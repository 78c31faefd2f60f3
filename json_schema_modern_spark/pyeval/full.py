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

import re
from decimal import Decimal
from typing import Any
from urllib.parse import urldefrag, urljoin

from json_schema_modern_spark.functions.formats_py import check_format
from json_schema_modern_spark.pyeval.evaluator import _deep_eq, _type_matches, json_type
from json_schema_modern_spark.spec.resolver import (
    _DIALECT_RANK,
    STANDARD_DIALECTS,
    SchemaRegistry,
    SpecError,
    json_pointer_escape,
    metaschema_error,
)

_MAX_DEPTH = 256

# keywords with no assertion semantics: their "evaluation" trivially
# succeeds, but callbacks registered on them still fire when a subschema
# containing them is reached (t/callbacks.t 'callbacks for keywords
# without eval subs')
_INERT_KEYWORDS = (
    "$schema", "$id", "id", "$anchor", "$dynamicAnchor", "$recursiveAnchor",
    "$comment", "$vocabulary", "$defs", "definitions", "title",
    "description", "default", "deprecated", "readOnly", "writeOnly",
    "examples",
)


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
        enclosing keyword is then treated as failed, exactly like the
        reference's callback-returns-false-after-E contract."""
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
        # draft rank (4 < 6 < 7 < 2019-09 < 2020-12) gates keyword
        # applicability: a keyword from a later draft is an UNKNOWN keyword
        # in an earlier dialect and must be ignored, and removed keywords
        # (draft≤7 $ref sibling masking, dependencies) come back
        self.rank = _DIALECT_RANK[dialect]
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

        ``callbacks`` maps keyword -> fn(data, schema, state) invoked after
        each SUCCESSFUL evaluation of that keyword (Modern.pm:798-811):
        failed keywords never fire, keywords without assertion semantics
        ($anchor, $comment, $defs, title, ...) always fire when reached, and
        a callback may emit errors via ``state.error(...)`` which fail the
        enclosing keyword and land in ``self.cb_errors``.  Short-circuit
        semantics: this evaluator stops a subschema at its first failing
        keyword, matching the reference's short_circuit mode."""
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
            ok, _, _ = self._eval(root, instance, uri, (uri,), 0, "", "")
        finally:
            self._cbs = {}
        return ok

    def evaluate(self, schema: Any, instance: Any, default_uri: str = "",
                 callbacks: dict[str, Any] | None = None) -> bool:
        """Convenience: add (if new) + evaluate."""
        uri = self.registry.add_schema(schema, default_uri,
                                       dialect=self.dialect) \
            if default_uri not in self.registry.roots else default_uri
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

    # -- callbacks ------------------------------------------------------------

    def _fire(self, kw: str, node: Any, inst: Any, dp: str, kp: str) -> bool:
        """Invoke the registered callback for `kw` after its successful
        evaluation at data path `dp` (Modern.pm:798-811).  Returns False —
        failing the enclosing keyword — iff the callback emitted errors via
        CallbackState.error()."""
        cb = self._cbs.get(kw)
        if cb is None:
            return True
        state = CallbackState(dp, kw, f"{kp}/{json_pointer_escape(kw)}",
                              self.cb_errors)
        before = len(self.cb_errors)
        cb(inst, node, state)
        return len(self.cb_errors) == before

    # -- core ---------------------------------------------------------------

    def _eval(self, node: Any, inst: Any, base: str, scope: tuple[str, ...],
              depth: int, dp: str = "", kp: str = "") -> tuple[bool, frozenset, frozenset]:
        empty = frozenset()
        if depth > _MAX_DEPTH:
            raise EvalError("evaluation depth exceeded (circular references?)")
        if node is True or node == {}:
            return True, empty, empty
        if node is False:
            return False, empty, empty
        if not isinstance(node, dict):
            raise EvalError(f"subschema is {type(node).__name__}, not object/boolean")

        fire = None
        if self._cbs:
            def fire(kw: str, _n=node, _i=inst, _dp=dp, _kp=kp) -> bool:
                return self._fire(kw, _n, _i, _dp, _kp)

        # resource entry: $id re-bases and pushes onto the dynamic scope
        # (draft4 spells it `id`; drafts 4-7 fragment-only ids are anchors,
        # not resource bases)
        _idv = node.get("id" if self.rank == 0 else "$id")
        if isinstance(_idv, str) and not (self.rank <= 2 and _idv.startswith("#")):
            base = urldefrag(urljoin(base, _idv))[0]
        if not scope or scope[-1] != base:
            scope = scope + (base,)

        fail = (False, empty, empty)
        names: set = set()
        idxs: set = set()

        if fire:
            # inert keywords "succeed" the moment the subschema is reached
            for _ik in _INERT_KEYWORDS:
                if _ik in node and not fire(_ik):
                    return fail

        # ds/ks: JSON-pointer suffixes onto the data path / traversed
        # keyword location for the child evaluation
        def child(s: Any, i: Any, ds: str = "", ks: str = "") -> bool:
            return self._eval(s, i, base, scope, depth + 1, dp + ds, kp + ks)[0]

        def merge_if_ok(s: Any, i: Any, ds: str = "", ks: str = "") -> bool:
            ok, n, ix = self._eval(s, i, base, scope, depth + 1, dp + ds, kp + ks)
            if ok:
                names.update(n)
                idxs.update(ix)
            return ok

        def eval_resource(res, i: Any, ks: str = "") -> bool:
            ok, n, ix = self._eval(res.node, i, res.base_uri, scope,
                                   depth + 1, dp, kp + ks)
            if ok:
                names.update(n)
                idxs.update(ix)
            return ok

        # ---- core vocabulary: references evaluate first ----
        if isinstance(node.get("$ref"), str):
            try:
                res = self.registry.resolve(node["$ref"], base)
            except SpecError as exc:
                raise EvalError(str(exc)) from exc
            if self.rank <= 2:
                # drafts 4-7: $ref MASKS all sibling keywords — the ref
                # target is the entire schema (V/Core.pm draft≤7 dispatch)
                ok, n, ix = self._eval(res.node, inst, res.base_uri,
                                       scope, depth + 1, dp, kp + "/$ref")
                if ok and fire and not fire("$ref"):
                    return fail
                return (True, n, ix) if ok else fail
            if not eval_resource(res, inst, "/$ref"):
                return fail
            if fire and not fire("$ref"):
                return fail

        if self.dialect == "2020-12" and isinstance(node.get("$dynamicRef"), str):
            ref = node["$dynamicRef"]
            uri, frag = self.registry.split_ref(ref, base)
            if frag and not frag.startswith("/") \
                    and (uri, frag) in self.registry.dynamic_anchors:
                # bookended: the OUTERMOST in-scope resource declaring the
                # same $dynamicAnchor wins; fall back to the static target
                res = next(
                    (self.registry.dynamic_anchors[(b, frag)]
                     for b in scope if (b, frag) in self.registry.dynamic_anchors),
                    self.registry.dynamic_anchors[(uri, frag)])
            else:
                try:
                    res = self.registry.resolve(ref, base)
                except SpecError as exc:
                    raise EvalError(str(exc)) from exc
            if not eval_resource(res, inst, "/$dynamicRef"):
                return fail
            if fire and not fire("$dynamicRef"):
                return fail

        if self.dialect == "2019-09" and isinstance(node.get("$recursiveRef"), str):
            # resolve statically like $ref; ONLY if the landing spot
            # declares $recursiveAnchor:true does the ref re-resolve
            # against the outermost in-scope recursive anchor
            # (Core.pm:310-325 — exercised by recursive-dynamic.json's
            # "$recursiveRef points to a boolean schema")
            ref = node["$recursiveRef"]
            try:
                res = self.registry.resolve(ref, base)
            except SpecError as exc:
                raise EvalError(str(exc)) from exc
            if isinstance(res.node, dict) \
                    and res.node.get("$recursiveAnchor") is True:
                for b in scope:
                    if b in self.registry.recursive_anchors:
                        try:
                            res = self.registry.resolve(ref, b)
                        except SpecError as exc:
                            raise EvalError(str(exc)) from exc
                        break
            if not eval_resource(res, inst, "/$recursiveRef"):
                return fail
            if fire and not fire("$recursiveRef"):
                return fail

        t = json_type(inst)

        # ---- validation vocabulary ----
        if "type" in node:
            wants = node["type"]
            wants = wants if isinstance(wants, list) else [wants]
            if self.rank == 0:
                # draft4: integers are INTEGER-TYPED values only — 2.0 is a
                # number, never an integer (zero-fraction float acceptance
                # starts at draft6)
                if not any(t == w or (w == "number" and t == "integer")
                           for w in wants):
                    return fail
            elif not any(_type_matches(inst, w) for w in wants):
                return fail
            if fire and not fire("type"):
                return fail

        if t in ("integer", "number") and not isinstance(inst, bool):
            if self.rank == 0:
                # draft4 boolean-modifier exclusive forms
                if "minimum" in node:
                    if node.get("exclusiveMinimum") is True:
                        if not inst > node["minimum"]:
                            return fail
                        # draft-4 boolean form: tooling hooked on the
                        # exclusiveMinimum keyword must still see it fire
                        if fire and not fire("exclusiveMinimum"):
                            return fail
                    elif not inst >= node["minimum"]:
                        return fail
                    if fire and not fire("minimum"):
                        return fail
                if "maximum" in node:
                    if node.get("exclusiveMaximum") is True:
                        if not inst < node["maximum"]:
                            return fail
                        if fire and not fire("exclusiveMaximum"):
                            return fail
                    elif not inst <= node["maximum"]:
                        return fail
                    if fire and not fire("maximum"):
                        return fail
            else:
                if "minimum" in node:
                    if not inst >= node["minimum"]:
                        return fail
                    if fire and not fire("minimum"):
                        return fail
                if "maximum" in node:
                    if not inst <= node["maximum"]:
                        return fail
                    if fire and not fire("maximum"):
                        return fail
                if "exclusiveMinimum" in node:
                    if not inst > node["exclusiveMinimum"]:
                        return fail
                    if fire and not fire("exclusiveMinimum"):
                        return fail
                if "exclusiveMaximum" in node:
                    if not inst < node["exclusiveMaximum"]:
                        return fail
                    if fire and not fire("exclusiveMaximum"):
                        return fail
            if "multipleOf" in node:
                q = Decimal(str(inst)) / Decimal(str(node["multipleOf"]))
                if q != q.to_integral_value():
                    return fail
                if fire and not fire("multipleOf"):
                    return fail

        if t == "string":
            if "minLength" in node:
                if len(inst) < node["minLength"]:
                    return fail
                if fire and not fire("minLength"):
                    return fail
            if "maxLength" in node:
                if len(inst) > node["maxLength"]:
                    return fail
                if fire and not fire("maxLength"):
                    return fail
            if "pattern" in node:
                if not re.search(node["pattern"], inst):
                    return fail
                if fire and not fire("pattern"):
                    return fail

        # content vocabulary in assertion mode (Content.pm:46-113 under
        # validate_content_schemas; annotation-only otherwise, per spec).
        # contentEncoding/contentMediaType are draft7+, contentSchema
        # 2019-09+ (Content.pm keywords()); decode failures are ERRORS,
        # an unmatched media type (no registry decoder) is an ABORT.
        if (t == "string" and self.validate_content_schemas and self.rank >= 2
                and ("contentEncoding" in node or "contentMediaType" in node)):
            from ..spec.media_types import (
                decode_content_encoding, decode_media_type, get_media_type,
            )

            content: Any = inst
            if "contentEncoding" in node:
                try:
                    content = decode_content_encoding(
                        node["contentEncoding"], inst)
                except ValueError:
                    return fail
                if fire and not fire("contentEncoding"):
                    return fail
            if "contentMediaType" in node:
                entry = get_media_type(node["contentMediaType"])
                if entry is None or entry.decoder is None:
                    raise EvalError(
                        "cannot find decoder for contentMediaType "
                        f"\"{node['contentMediaType']}\"")
                try:
                    content = decode_media_type(node["contentMediaType"],
                                                content)
                except Exception:  # noqa: BLE001 - any decode failure = error
                    return fail
                if fire and not fire("contentMediaType"):
                    return fail
                if "contentSchema" in node and self.rank >= 3:
                    if not child(node["contentSchema"], content,
                                 ks="/contentSchema"):
                        return fail
                    if fire and not fire("contentSchema"):
                        return fail

        if "enum" in node:
            if not any(_deep_eq(inst, m) for m in node["enum"]):
                return fail
            if fire and not fire("enum"):
                return fail
        if "const" in node and self.rank >= 1:
            if not _deep_eq(inst, node["const"]):
                return fail
            if fire and not fire("const"):
                return fail

        if isinstance(node.get("format"), str):
            if self.validate_formats and not check_format(node["format"], inst):
                return fail
            if fire and not fire("format"):
                return fail

        if t == "array":
            if "minItems" in node:
                if len(inst) < node["minItems"]:
                    return fail
                if fire and not fire("minItems"):
                    return fail
            if "maxItems" in node:
                if len(inst) > node["maxItems"]:
                    return fail
                if fire and not fire("maxItems"):
                    return fail
            if node.get("uniqueItems") is True:
                for i in range(len(inst)):
                    for j in range(i + 1, len(inst)):
                        if _deep_eq(inst[i], inst[j]):
                            return fail
                if fire and not fire("uniqueItems"):
                    return fail
            n_prefix = 0
            if "prefixItems" in node and self.dialect == "2020-12":
                subs = node["prefixItems"]
                n_prefix = len(subs)
                for i, s in enumerate(subs):
                    if i < len(inst) and not child(s, inst[i], f"/{i}",
                                                   f"/prefixItems/{i}"):
                        return fail
                idxs.update(range(min(n_prefix, len(inst))))
                if fire and not fire("prefixItems"):
                    return fail
            if "items" in node:
                items = node["items"]
                if isinstance(items, list):
                    if self.dialect == "2020-12":
                        raise EvalError("array-form items is invalid in 2020-12")
                    n_prefix = len(items)
                    for i, s in enumerate(items):
                        if i < len(inst) and not child(s, inst[i], f"/{i}",
                                                       f"/items/{i}"):
                            return fail
                    idxs.update(range(min(n_prefix, len(inst))))
                    if fire and not fire("items"):
                        return fail
                    if "additionalItems" in node:
                        for i, x in enumerate(inst[n_prefix:], start=n_prefix):
                            if not child(node["additionalItems"], x, f"/{i}",
                                         "/additionalItems"):
                                return fail
                        idxs.update(range(n_prefix, len(inst)))
                        if fire and not fire("additionalItems"):
                            return fail
                else:
                    for i, x in enumerate(inst[n_prefix:], start=n_prefix):
                        if not child(items, x, f"/{i}", "/items"):
                            return fail
                    idxs.update(range(n_prefix, len(inst)))
                    if fire and not fire("items"):
                        return fail
            if "contains" in node and self.rank >= 1:
                matching = [i for i, x in enumerate(inst)
                            if child(node["contains"], x, f"/{i}", "/contains")]
                # minContains/maxContains exist from 2019-09
                min_c = node.get("minContains", 1) if self.rank >= 3 else 1
                if len(matching) < (min_c if min_c is not None else 1) and min_c != 0:
                    return fail
                idxs.update(matching)
                if self.rank >= 3:
                    if "maxContains" in node and len(matching) > node["maxContains"]:
                        return fail
                    if "minContains" in node and len(matching) < min_c:
                        return fail
                    if fire and "maxContains" in node and not fire("maxContains"):
                        return fail
                    if fire and "minContains" in node and not fire("minContains"):
                        return fail
                if fire and not fire("contains"):
                    return fail

        if t == "object":
            esc = json_pointer_escape
            if "required" in node:
                if any(k not in inst for k in node["required"]):
                    return fail
                if fire and not fire("required"):
                    return fail
            if "minProperties" in node:
                if len(inst) < node["minProperties"]:
                    return fail
                if fire and not fire("minProperties"):
                    return fail
            if "maxProperties" in node:
                if len(inst) > node["maxProperties"]:
                    return fail
                if fire and not fire("maxProperties"):
                    return fail
            if "dependentRequired" in node and self.rank >= 3:
                for p, deps in node["dependentRequired"].items():
                    if p in inst and any(d not in inst for d in deps):
                        return fail
                if fire and not fire("dependentRequired"):
                    return fail
            if "dependentSchemas" in node and self.rank >= 3:
                for p, s in node["dependentSchemas"].items():
                    if p in inst and not merge_if_ok(
                            s, inst, "", f"/dependentSchemas/{esc(p)}"):
                        return fail
                if fire and not fire("dependentSchemas"):
                    return fail
            if "dependencies" in node and self.dialect in ("4", "6", "7"):
                for p, dep in node["dependencies"].items():
                    if p not in inst:
                        continue
                    if isinstance(dep, list):
                        if any(d not in inst for d in dep):
                            return fail
                    elif not merge_if_ok(dep, inst, "",
                                         f"/dependencies/{esc(p)}"):
                        return fail
                if fire and not fire("dependencies"):
                    return fail
            if "properties" in node:
                for name, s in node["properties"].items():
                    if name in inst:
                        if not child(s, inst[name], f"/{esc(name)}",
                                     f"/properties/{esc(name)}"):
                            return fail
                        names.add(name)
                if fire and not fire("properties"):
                    return fail
            if "patternProperties" in node:
                for pat, s in node["patternProperties"].items():
                    for name, v in inst.items():
                        if re.search(pat, name):
                            if not child(s, v, f"/{esc(name)}",
                                         f"/patternProperties/{esc(pat)}"):
                                return fail
                            names.add(name)
                if fire and not fire("patternProperties"):
                    return fail
            if "additionalProperties" in node:
                matched = set(node.get("properties", {}))
                pats = list(node.get("patternProperties", {}))
                for name, v in inst.items():
                    if name in matched or any(re.search(p, name) for p in pats):
                        continue
                    if not child(node["additionalProperties"], v,
                                 f"/{esc(name)}", "/additionalProperties"):
                        return fail
                    names.add(name)
                if fire and not fire("additionalProperties"):
                    return fail
            if "propertyNames" in node and self.rank >= 1:
                for name in inst:
                    if not child(node["propertyNames"], name,
                                 f"/{esc(name)}", "/propertyNames"):
                        return fail
                if fire and not fire("propertyNames"):
                    return fail

        # ---- in-place applicators ----
        if "allOf" in node:
            for i, s in enumerate(node["allOf"]):
                if not merge_if_ok(s, inst, "", f"/allOf/{i}"):
                    return fail
            if fire and not fire("allOf"):
                return fail
        if "anyOf" in node:
            # evaluate ALL branches (no short-circuit): annotations merge
            # from every successful one (Acceptance.pm dual-mode contract)
            if not any([merge_if_ok(s, inst, "", f"/anyOf/{i}")
                        for i, s in enumerate(node["anyOf"])]):
                return fail
            if fire and not fire("anyOf"):
                return fail
        if "oneOf" in node:
            results = [self._eval(s, inst, base, scope, depth + 1,
                                  dp, f"{kp}/oneOf/{i}")
                       for i, s in enumerate(node["oneOf"])]
            if sum(ok for ok, _, _ in results) != 1:
                return fail
            for ok, n, ix in results:
                if ok:
                    names.update(n)
                    idxs.update(ix)
            if fire and not fire("oneOf"):
                return fail
        if "not" in node:
            if child(node["not"], inst, "", "/not"):
                return fail
            if fire and not fire("not"):
                return fail
        if "if" in node and self.rank >= 2:
            # `if` itself always "succeeds" (it only selects the branch);
            # the untaken branch trivially succeeds — both fire callbacks
            # (t/callbacks.t 'keywords without eval subs': else fires even
            # when the then-branch was taken)
            if_ok = merge_if_ok(node["if"], inst, "", "/if")
            if fire and not fire("if"):
                return fail
            branch, other = ("then", "else") if if_ok else ("else", "then")
            if branch in node:
                if not merge_if_ok(node[branch], inst, "", f"/{branch}"):
                    return fail
                if fire and not fire(branch):
                    return fail
            if fire and other in node and not fire(other):
                return fail

        # ---- unevaluated*: last, over the complement of the merged sets ----
        if self.rank < 3:
            return True, frozenset(names), frozenset(idxs)
        if "unevaluatedProperties" in node and t == "object":
            esc = json_pointer_escape
            for name, v in inst.items():
                if name in names:
                    continue
                if not child(node["unevaluatedProperties"], v,
                             f"/{esc(name)}", "/unevaluatedProperties"):
                    return fail
            names.update(inst.keys())
            if fire and not fire("unevaluatedProperties"):
                return fail
        if "unevaluatedItems" in node and t == "array":
            for i, x in enumerate(inst):
                if i in idxs:
                    continue
                if not child(node["unevaluatedItems"], x, f"/{i}",
                             "/unevaluatedItems"):
                    return fail
            idxs.update(range(len(inst)))
            if fire and not fire("unevaluatedItems"):
                return fail

        return True, frozenset(names), frozenset(idxs)
