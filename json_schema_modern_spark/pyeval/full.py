"""Full pure-Python JSON Schema evaluator: lazy $ref resolution, dynamic
scope, $vocabulary-aware metaschemas, and format assertion.

This is the driver-side acceptance oracle — the component that consumes
the reference's own published test corpora
(/root/reference/t/additional-tests-draft2020-12/*.json, harness at
t/lib/Acceptance.pm:76-112) and the engine behind metaschema
self-validation (the ``validate_schema`` flow, Modern.pm:491-511).  It
shares the symbol table (``spec.resolver.SchemaRegistry``) with the Spark
compiler, so both tiers see identical $id/$anchor/$dynamicAnchor
resolution; evaluation here is per-document recursive like the
reference's ``_evaluate_subschema`` (Modern.pm:691-856), with:

- the keywords, their order, types and dialects from the keyword table
  the compiler walks too (``spec.keywords``); this module keeps only a
  handler per asserting keyword (``HANDLERS``), and which rows a schema
  object holds is worked out once per object (``PyEvaluator._plan``);
- LAZY reference resolution: a well-formed $ref to a missing document is
  an error only if evaluation reaches it (badRef.json semantics); the
  fragment-syntax check happens at add time, in the registry walk;
- dynamic scope as the chain of schema resources entered, outermost
  first, for $dynamicRef/$recursiveRef (V/Core.pm:327-361);
- annotation sets (evaluated property names / item indices) merged from
  successful subschemas only, consumed by unevaluated*;
- $vocabulary validation when a registered schema is used as a
  metaschema via $schema (vocabulary.json semantics);
- format assertion through ``functions.formats_py`` (validate_formats=1,
  matching the reference's additional-tests harness config).

No Spark imports — unit-testable standalone.
"""

from __future__ import annotations

import operator
import re
from decimal import Decimal
from typing import Any, Callable
from urllib.parse import urldefrag, urljoin

from json_schema_modern_spark.functions.formats_py import check_format
from json_schema_modern_spark.pyeval.evaluator import _deep_eq, json_type
from json_schema_modern_spark.spec.keywords import KEYWORDS, defined
from json_schema_modern_spark.spec.resolver import (
    STANDARD_DIALECTS,
    SchemaRegistry,
    SpecError,
    json_pointer_escape,
    metaschema_error,
    resource_id,
)

_MAX_DEPTH = 256
_EMPTY = frozenset()
_FAIL = (False, _EMPTY, _EMPTY)
# returned by a handler that succeeds and ends its node: the draft 4-7 $ref
_END = object()


class EvalError(Exception):
    """Evaluation aborted (unresolvable ref, bad metaschema, depth blown) —
    the reference's exception Result: the instance is reported invalid."""


class CallbackState:
    """The slice of evaluator state a per-keyword callback sees — the
    reference passes its full ``$state`` hash (Modern.pm:798-811); the
    fields tooling actually reads are the data path, the keyword, and the
    traversed keyword location, plus ``E()`` to emit an error
    (Utilities.pm ``E``, exercised by t/callbacks.t 'callbacks that
    produce errors')."""

    __slots__ = ("data_path", "keyword", "keyword_location", "_errors")

    def __init__(self, data_path: str, keyword: str, keyword_location: str,
                 errors: list):
        self.data_path = data_path
        self.keyword = keyword
        self.keyword_location = keyword_location
        self._errors = errors

    def error(self, message: str) -> bool:
        """Record an error at this (instance, keyword) location; the
        subschema is then treated as failed, like the reference's
        callback-returns-false-after-E contract."""
        self._errors.append({
            "instanceLocation": self.data_path,
            "keywordLocation": self.keyword_location,
            "error": message,
        })
        return False


class PyEvaluator:
    """One evaluator = one registry of schema documents (the reference's
    JSON::Schema::Modern object: documents added once, evaluated many)."""

    def __init__(self, validate_formats: bool = True, dialect: str = "2020-12",
                 validate_content_schemas: bool = False):
        self.registry = SchemaRegistry()
        self.validate_formats = validate_formats
        # assert contentEncoding/contentMediaType/contentSchema instead of
        # treating them as annotations (Modern.pm validate_content_schemas)
        self.validate_content_schemas = validate_content_schemas
        self.dialect = dialect
        # (keyword, accepted instance types, handler) per table row the
        # dialect defines, in table order: a keyword from another draft is
        # an UNKNOWN keyword here and ignored.  Annotation rows and rows
        # another row evaluates (then/else by if) have no handler.
        self._rows = tuple(
            (k.name, _accepts(k.types),
             None if k.annotation else HANDLERS.get(k.name))
            for k in KEYWORDS if k.dialects is None or dialect in k.dialects)
        # id(schema object) -> its plan (see _plan), built on first visit
        self._plans: dict[int, tuple] = {}
        self._metaschema_ok: dict[str, str | None] = {}  # uri -> error or None
        # per-keyword evaluation callbacks (Modern.pm:798-811, t/callbacks.t):
        # set for the duration of one evaluate() call; cb_errors collects
        # errors the callbacks emit via CallbackState.error()
        self._cbs: dict[str, Any] = {}
        self.cb_errors: list[dict] = []

    # -- document management ------------------------------------------------

    def add_schema(self, schema: Any, default_uri: str = "") -> str:
        """Register a document (traverse phase — raises SpecError on
        malformed $id/$anchor/ref-fragment syntax, even in branches
        evaluation would never reach)."""
        return self.registry.add_schema(schema, default_uri,
                                        dialect=self.dialect)

    # -- public evaluation ---------------------------------------------------

    def evaluate_uri(self, uri: str, instance: Any,
                     callbacks: dict[str, Any] | None = None) -> bool:
        """Validity of `instance` against the registered root `uri`;
        evaluation-time errors (unresolvable $ref, invalid metaschema in
        $schema) surface as EvalError.

        ``callbacks`` maps keyword -> fn(data, schema, state), invoked for
        the keywords of a subschema once all of them have SUCCEEDED there
        (Modern.pm:798-811), in table order.  Short-circuit semantics: this
        evaluator stops a subschema at its first failing keyword, matching
        the reference's short_circuit mode, and a failed subschema fires
        nothing.  Keywords without assertion semantics ($anchor, $comment,
        $defs, title, then/else, ...) fire with their subschema; a keyword
        whose types exclude the instance (minimum on a string) does not.
        A callback may emit errors via ``state.error(...)``, which fail the
        subschema and land in ``self.cb_errors``."""
        root = self.registry.roots.get(uri)
        if root is None:
            raise EvalError(f"no registered schema at {uri!r}")
        if isinstance(root, dict) and isinstance(root.get("$schema"), str):
            err = self._metaschema_error(root["$schema"], uri)
            if err:
                raise EvalError(err)
        self._cbs = callbacks or {}
        self.cb_errors = []
        try:
            ok = self._eval(root, instance, uri, (uri,), 0, "", "")[0]
        finally:
            self._cbs = {}
        return ok

    def evaluate(self, schema: Any, instance: Any, default_uri: str = "",
                 callbacks: dict[str, Any] | None = None) -> bool:
        """Convenience: add + evaluate ``schema``, replacing another
        document at its root URI (re-adding the same one is a no-op)."""
        uri = self.registry.add_schema(schema, default_uri, dialect=self.dialect,
                                       replace=True)
        return self.evaluate_uri(uri, instance, callbacks=callbacks)

    # -- metaschema / $vocabulary -------------------------------------------

    def _metaschema_error(self, meta_uri: str, base: str) -> str | None:
        # shared with the Spark compiler (spec.resolver.metaschema_error);
        # this wrapper only adds the per-evaluator memo
        key = urldefrag(urljoin(base, meta_uri))[0]
        if meta_uri in STANDARD_DIALECTS or key in STANDARD_DIALECTS:
            return None
        if key in self._metaschema_ok:
            return self._metaschema_ok[key]
        err = metaschema_error(self.registry, self.dialect, meta_uri, base)
        self._metaschema_ok[key] = err
        return err

    # -- core ---------------------------------------------------------------

    def _plan(self, node: Any) -> tuple:
        """What a visit of schema object `node` runs, worked out once per
        node: (node, resource id, (handler, accepted types, keyword,
        value) per present row with a handler, (keyword, accepted types)
        per present keyword for the callbacks).  The node rides along so
        its id() stays unique while the plan is cached."""
        if not isinstance(node, dict):
            raise EvalError(f"subschema is {type(node).__name__}, not object/boolean")
        present = [r for r in self._rows if r[0] in node]
        fires: dict[str, Any] = {}
        for kw, accepts, _ in present:
            fires.setdefault(kw, accepts)
        plan = (node, resource_id(node, self.dialect),
                tuple((h, accepts, kw, node[kw])
                      for kw, accepts, h in present if h is not None),
                tuple(fires.items()))
        self._plans[id(node)] = plan
        return plan

    def _eval(self, node: Any, inst: Any, base: str, scope: tuple[str, ...],
              depth: int, dp: str = "", kp: str = "") -> tuple[bool, Any, Any]:
        """(valid, evaluated property names, evaluated item indices)."""
        if depth > _MAX_DEPTH:
            raise EvalError("evaluation depth exceeded (circular references?)")
        if node is True:
            return True, _EMPTY, _EMPTY
        if node is False:
            return _FAIL
        plan = self._plans.get(id(node)) or self._plan(node)
        _, idv, rows, fires = plan
        # resource entry: an id re-bases and pushes onto the dynamic scope
        if idv is not None:
            base = urldefrag(urljoin(base, idv))[0]
        if not scope or scope[-1] != base:
            scope = scope + (base,)
        t = json_type(inst)
        f = _Frame(self, node, inst, t, base, scope, depth + 1, dp, kp)
        for h, accepts, kw, v in rows:
            if accepts is None or t in accepts:
                r = h(f, kw, v)
                if not r:
                    return _FAIL
                if r is _END:
                    fires = ((kw, None),)
                    break
        if self._cbs and not self._fire(fires, f):
            return _FAIL
        return True, f.names, f.idxs

    def _fire(self, fires: tuple, f: "_Frame") -> bool:
        """Invoke the registered callbacks of a subschema whose keywords
        all succeeded at data path ``f.dp`` (Modern.pm:798-811).  Returns
        False — failing the subschema — iff a callback emitted errors via
        CallbackState.error()."""
        for kw, accepts in fires:
            cb = self._cbs.get(kw)
            if cb is None or not (accepts is None or f.t in accepts):
                continue
            state = CallbackState(f.dp, kw, f"{f.kp}/{json_pointer_escape(kw)}",
                                  self.cb_errors)
            before = len(self.cb_errors)
            cb(f.inst, f.node, state)
            if len(self.cb_errors) != before:
                return False
        return True


def _accepts(types: tuple[str, ...] | None) -> frozenset | None:
    """The instance types a row with `types` applies to (integer ⊂ number)."""
    if types is None:
        return None
    return frozenset(types) | ({"integer"} if "number" in types else set())


class _Frame:
    """One visit of one schema object: what its keyword handlers share —
    the instance and its JSON type, the scope, the data path / traversed
    keyword location, and the property names / item indices that its
    successful keywords evaluated (merged from successful subschemas only;
    unevaluated* consumes them)."""

    __slots__ = ("ev", "node", "inst", "t", "base", "scope", "depth", "dp",
                 "kp", "names", "idxs")

    def __init__(self, ev: PyEvaluator, node: dict, inst: Any, t: str,
                 base: str, scope: tuple, depth: int, dp: str, kp: str):
        self.ev, self.node, self.inst, self.t = ev, node, inst, t
        self.base, self.scope, self.depth, self.dp, self.kp = \
            base, scope, depth, dp, kp
        self.names: set = set()
        self.idxs: set = set()

    # ds/ks: JSON-pointer suffixes onto the data path / traversed keyword
    # location for the child evaluation
    def eval(self, s: Any, i: Any, ds: str = "", ks: str = "",
             base: str | None = None) -> tuple[bool, Any, Any]:
        return self.ev._eval(s, i, self.base if base is None else base,
                             self.scope, self.depth, self.dp + ds, self.kp + ks)

    def child(self, s: Any, i: Any, ds: str = "", ks: str = "") -> bool:
        return self.ev._eval(s, i, self.base, self.scope, self.depth,
                             self.dp + ds, self.kp + ks)[0]

    def merge(self, s: Any, i: Any, ds: str = "", ks: str = "",
              base: str | None = None) -> bool:
        """child(), keeping the subschema's annotations if it succeeds."""
        ok, n, ix = self.eval(s, i, ds, ks, base)
        if ok:
            self.names.update(n)
            self.idxs.update(ix)
        return ok


# --- keyword handlers: handler(frame, keyword, value) -> truthy iff valid ---
# Core ----------------------------------------------------------------------


def _resolve(reg: SchemaRegistry, ref: str, base: str):
    try:
        return reg.resolve(ref, base)
    except SpecError as exc:
        raise EvalError(str(exc)) from exc


def _kw_ref(f: _Frame, kw: str, ref: Any) -> Any:
    if not isinstance(ref, str):
        return True
    res = _resolve(f.ev.registry, ref, f.base)
    if not f.merge(res.node, f.inst, ks="/$ref", base=res.base_uri):
        return False
    # drafts 4-7: $ref MASKS all sibling keywords — the ref target is the
    # entire schema (V/Core.pm draft≤7 dispatch)
    return _END if f.ev.dialect in ("4", "6", "7") else True


def _kw_dynamic_ref(f: _Frame, kw: str, ref: Any) -> bool:
    if not isinstance(ref, str):
        return True
    reg = f.ev.registry
    anchors = reg.dynamic_anchors
    uri, frag = reg.split_ref(ref, f.base)
    if frag and not frag.startswith("/") and (uri, frag) in anchors:
        # bookended: the OUTERMOST in-scope resource declaring the same
        # $dynamicAnchor wins; fall back to the static target
        res = next((anchors[(b, frag)] for b in f.scope if (b, frag) in anchors),
                   anchors[(uri, frag)])
    else:
        res = _resolve(reg, ref, f.base)
    return f.merge(res.node, f.inst, ks="/$dynamicRef", base=res.base_uri)


def _kw_recursive_ref(f: _Frame, kw: str, ref: Any) -> bool:
    """Resolve statically like $ref; ONLY if the landing spot declares
    $recursiveAnchor:true does the ref re-resolve against the outermost
    in-scope recursive anchor (Core.pm:310-325 — exercised by
    recursive-dynamic.json's "$recursiveRef points to a boolean schema")."""
    if not isinstance(ref, str):
        return True
    reg = f.ev.registry
    res = _resolve(reg, ref, f.base)
    if isinstance(res.node, dict) and res.node.get("$recursiveAnchor") is True:
        outer = next((b for b in f.scope if b in reg.recursive_anchors), None)
        if outer is not None:
            res = _resolve(reg, ref, outer)
    return f.merge(res.node, f.inst, ks="/$recursiveRef", base=res.base_uri)


# Validation ----------------------------------------------------------------


def _kw_type(f: _Frame, kw: str, want: Any) -> bool:
    t = f.t
    for w in want if isinstance(want, list) else (want,):
        if w == t or (w == "number" and t == "integer"):
            return True
        # ≥draft6: 2.0 is an integer (Utilities.pm:152-156); draft 4
        # counts only integer-typed values
        if w == "integer" and t == "number" and f.ev.dialect != "4" \
                and f.inst.is_integer():
            return True
    return False


def _kw_multiple_of(f: _Frame, kw: str, m: Any) -> bool:
    q = Decimal(str(f.inst)) / Decimal(str(m))
    return q == q.to_integral_value()


_RANGE_OPS = {"maximum": operator.le, "exclusiveMaximum": operator.lt,
              "minimum": operator.ge, "exclusiveMinimum": operator.gt}
# draft4 couples exclusiveMaximum/Minimum as BOOLEANS modifying
# maximum/minimum (V/Validation.pm:129-143)
_D4_EXCLUSIVE = {"maximum": "exclusiveMaximum", "minimum": "exclusiveMinimum"}


def _kw_range(f: _Frame, kw: str, bound: Any) -> bool:
    if isinstance(bound, bool):
        return True             # draft4 boolean form: folded into the base keyword
    if f.ev.dialect == "4" and f.node.get(_D4_EXCLUSIVE.get(kw)) is True:
        kw = _D4_EXCLUSIVE[kw]
    return _RANGE_OPS[kw](f.inst, bound)


def _kw_unique_items(f: _Frame, kw: str, unique: Any) -> bool:
    inst = f.inst
    return unique is not True or not any(
        _deep_eq(inst[i], inst[j])
        for i in range(len(inst)) for j in range(i + 1, len(inst)))


def _kw_dependent_required(f: _Frame, kw: str, deps: dict) -> bool:
    inst = f.inst
    return not any(p in inst and any(d not in inst for d in ds)
                   for p, ds in deps.items())


# Content / Format ------------------------------------------------------------


def _kw_content(f: _Frame, kw: str, _value: Any) -> bool:
    """The content vocabulary in assertion mode (Content.pm:46-113 under
    validate_content_schemas; annotation-only otherwise, per spec), one
    pass at whichever of contentEncoding / contentMediaType comes first.
    Decode failures are ERRORS; an unmatched media type (no registry
    decoder) is an ABORT."""
    node = f.node
    if not f.ev.validate_content_schemas or (
            kw == "contentMediaType" and "contentEncoding" in node):
        return True
    from ..spec.media_types import (
        decode_content_encoding, decode_media_type, get_media_type,
    )

    content: Any = f.inst
    if "contentEncoding" in node:
        try:
            content = decode_content_encoding(node["contentEncoding"], content)
        except ValueError:
            return False
    if "contentMediaType" in node:
        mt = node["contentMediaType"]
        entry = get_media_type(mt)
        if entry is None or entry.decoder is None:
            raise EvalError(f"cannot find decoder for contentMediaType \"{mt}\"")
        try:
            content = decode_media_type(mt, content)
        except Exception:  # noqa: BLE001 - any decode failure = error
            return False
        if "contentSchema" in node and defined("contentSchema", f.ev.dialect):
            return f.child(node["contentSchema"], content, ks="/contentSchema")
    return True


def _kw_format(f: _Frame, kw: str, fmt: Any) -> bool:
    return not (f.ev.validate_formats and isinstance(fmt, str)) \
        or check_format(fmt, f.inst)


# Applicator: arrays ----------------------------------------------------------


def _positional(f: _Frame, kw: str, subs: list) -> bool:
    """prefixItems / array-form items: one subschema per leading position."""
    inst = f.inst
    for i, s in enumerate(subs[:len(inst)]):
        if not f.child(s, inst[i], f"/{i}", f"/{kw}/{i}"):
            return False
    f.idxs.update(range(min(len(subs), len(inst))))
    return True


def _rest(f: _Frame, kw: str, s: Any, start: int) -> bool:
    """items / additionalItems: every element from `start` on."""
    inst = f.inst
    for i in range(start, len(inst)):
        if not f.child(s, inst[i], f"/{i}", "/" + kw):
            return False
    f.idxs.update(range(start, len(inst)))
    return True


def _kw_items(f: _Frame, kw: str, items: Any) -> bool:
    if isinstance(items, list):
        if f.ev.dialect == "2020-12":
            raise EvalError("array-form items is invalid in 2020-12")
        return _positional(f, kw, items)
    prefix = f.node.get("prefixItems", ()) \
        if defined("prefixItems", f.ev.dialect) else ()
    return _rest(f, kw, items, len(prefix))


def _kw_additional_items(f: _Frame, kw: str, s: Any) -> bool:
    items = f.node.get("items")
    return not isinstance(items, list) or _rest(f, kw, s, len(items))


def _kw_contains(f: _Frame, kw: str, s: Any) -> bool:
    inst = f.inst
    matching = [i for i, x in enumerate(inst)
                if f.child(s, x, f"/{i}", "/contains")]
    # min/maxContains exist from 2019-09; earlier drafts ignore them
    bounds = f.node if defined("minContains", f.ev.dialect) else {}
    hi = bounds.get("maxContains")
    if len(matching) < bounds.get("minContains", 1) \
            or (hi is not None and len(matching) > hi):
        return False
    f.idxs.update(matching)
    return True


# Applicator: objects ---------------------------------------------------------

_esc = json_pointer_escape


def _kw_properties(f: _Frame, kw: str, props: dict) -> bool:
    inst = f.inst
    for name, s in props.items():
        if name in inst:
            e = _esc(name)
            if not f.child(s, inst[name], "/" + e, "/properties/" + e):
                return False
            f.names.add(name)
    return True


def _kw_pattern_properties(f: _Frame, kw: str, pats: dict) -> bool:
    for pat, s in pats.items():
        for name, v in f.inst.items():
            if re.search(pat, name):
                if not f.child(s, v, "/" + _esc(name),
                               f"/patternProperties/{_esc(pat)}"):
                    return False
                f.names.add(name)
    return True


def _kw_additional_properties(f: _Frame, kw: str, s: Any) -> bool:
    matched = f.node.get("properties", {})
    pats = list(f.node.get("patternProperties", {}))
    for name, v in f.inst.items():
        if name in matched or any(re.search(p, name) for p in pats):
            continue
        if not f.child(s, v, "/" + _esc(name), "/additionalProperties"):
            return False
        f.names.add(name)
    return True


def _kw_property_names(f: _Frame, kw: str, s: Any) -> bool:
    return all(f.child(s, name, "/" + _esc(name), "/propertyNames")
               for name in f.inst)


def _kw_dependent_schemas(f: _Frame, kw: str, deps: dict) -> bool:
    return all(p not in f.inst or f.merge(s, f.inst, "", f"/{kw}/{_esc(p)}")
               for p, s in deps.items())


def _kw_dependencies(f: _Frame, kw: str, deps: dict) -> bool:
    """draft4-7: the array form is dependentRequired, the schema form
    dependentSchemas."""
    inst = f.inst
    for p, dep in deps.items():
        if p not in inst:
            continue
        if isinstance(dep, list):
            if any(d not in inst for d in dep):
                return False
        elif not f.merge(dep, inst, "", f"/dependencies/{_esc(p)}"):
            return False
    return True


# Applicator: in place --------------------------------------------------------


def _kw_all_of(f: _Frame, kw: str, subs: list) -> bool:
    return all(f.merge(s, f.inst, "", f"/allOf/{i}") for i, s in enumerate(subs))


def _kw_any_of(f: _Frame, kw: str, subs: list) -> bool:
    # evaluate ALL branches (no short-circuit): annotations merge from
    # every successful one (Acceptance.pm dual-mode contract)
    return any([f.merge(s, f.inst, "", f"/anyOf/{i}")
                for i, s in enumerate(subs)])


def _kw_one_of(f: _Frame, kw: str, subs: list) -> bool:
    results = [f.eval(s, f.inst, "", f"/oneOf/{i}") for i, s in enumerate(subs)]
    if sum(ok for ok, _, _ in results) != 1:
        return False
    for ok, n, ix in results:
        if ok:
            f.names.update(n)
            f.idxs.update(ix)
    return True


def _kw_if(f: _Frame, kw: str, s: Any) -> bool:
    # `if` itself only selects the branch; the untaken one trivially
    # succeeds
    branch = "then" if f.merge(s, f.inst, "", "/if") else "else"
    return branch not in f.node \
        or f.merge(f.node[branch], f.inst, "", "/" + branch)


# Unevaluated: last, over the complement of the merged sets -----------------


def _kw_unevaluated_properties(f: _Frame, kw: str, s: Any) -> bool:
    for name, v in f.inst.items():
        if name not in f.names and not f.child(
                s, v, "/" + _esc(name), "/unevaluatedProperties"):
            return False
    f.names.update(f.inst)
    return True


def _kw_unevaluated_items(f: _Frame, kw: str, s: Any) -> bool:
    for i, x in enumerate(f.inst):
        if i not in f.idxs and not f.child(s, x, f"/{i}", "/unevaluatedItems"):
            return False
    f.idxs.update(range(len(f.inst)))
    return True


# keyword -> handler; which keywords exist, their order, types and dialects
# are the rows of spec.keywords.KEYWORDS
HANDLERS: dict[str, Callable[[_Frame, str, Any], Any]] = {
    "$ref": _kw_ref, "$dynamicRef": _kw_dynamic_ref,
    "$recursiveRef": _kw_recursive_ref, "type": _kw_type,
    "enum": lambda f, kw, values: any(_deep_eq(f.inst, m) for m in values),
    "const": lambda f, kw, value: _deep_eq(f.inst, value),
    "multipleOf": _kw_multiple_of, **dict.fromkeys(_RANGE_OPS, _kw_range),
    **dict.fromkeys(("maxLength", "maxItems", "maxProperties"),
                    lambda f, kw, lim: len(f.inst) <= lim),
    **dict.fromkeys(("minLength", "minItems", "minProperties"),
                    lambda f, kw, lim: len(f.inst) >= lim),
    "pattern": lambda f, kw, pattern: re.search(pattern, f.inst) is not None,
    "contentEncoding": _kw_content, "contentMediaType": _kw_content,
    "format": _kw_format, "uniqueItems": _kw_unique_items,
    "prefixItems": _positional, "items": _kw_items,
    "additionalItems": _kw_additional_items, "contains": _kw_contains,
    "required": lambda f, kw, names: all(k in f.inst for k in names),
    "dependentRequired": _kw_dependent_required,
    "dependentSchemas": _kw_dependent_schemas,
    "dependencies": _kw_dependencies, "properties": _kw_properties,
    "patternProperties": _kw_pattern_properties,
    "additionalProperties": _kw_additional_properties,
    "propertyNames": _kw_property_names, "allOf": _kw_all_of,
    "anyOf": _kw_any_of, "oneOf": _kw_one_of,
    "not": lambda f, kw, s: not f.child(s, f.inst, "", "/not"), "if": _kw_if,
    "unevaluatedProperties": _kw_unevaluated_properties,
    "unevaluatedItems": _kw_unevaluated_items,
}
