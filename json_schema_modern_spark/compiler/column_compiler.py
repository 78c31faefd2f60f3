"""Spec → Spark Column expressions (the set-oriented evaluator core).

The reference evaluates one instance at a time with a recursive interpreter
(_evaluate_subschema, /root/reference/lib/JSON/Schema/Modern.pm:691-856).
This compiler inverts the loop: each keyword becomes ONE whole-column
vectorized expression over a typed DataFrame, so a million rows evaluate in
a single codegen'd pass instead of a million tree walks.

Mapping decisions (documented deviations from pure JSON-document semantics):

- A SQL ``NULL`` in a column/struct-field means *the property is absent*
  (so ``required`` fails on NULL, and value keywords are vacuously true —
  matching how the reference skips keywords for absent properties).
  A NULL *array element* is a JSON ``null`` value (present, type null).
- Instance types are static: the DataFrame schema decides them at compile
  time, so the reference's per-value ``get_type`` checks
  (Utilities.pm:104-164) constant-fold.  The one runtime case kept:
  ``type: integer`` on a fractional column checks ``x == floor(x)``
  (integer ⊂ number, and 2.0 is an integer — Utilities.pm:152-156).
- Error message templates mirror the reference's E() call sites
  (V/Validation.pm, V/Applicator.pm) so violation rows are comparable.
- Regex dialect (documented deviation, mirroring the reference's own
  ECMA-262 deviations — t/zzz-acceptance-draft2020-12.t:49-63): data-plane
  matching (`pattern`, `format`, map-column `patternProperties` /
  `propertyNames`) uses JAVA regex via rlike; compile-time property-name
  matching on struct targets (`patternProperties` / `additionalProperties`
  complement over statically-known field names) uses PYTHON re.  The two
  dialects agree on the common subset (literals, classes, anchors,
  quantifiers, alternation); schemas relying on dialect-specific syntax
  (inline flags, \\p classes, lookbehind variants) may behave differently
  between a struct-typed and a map-typed object column.

Violation rows carry the same three location fields the reference's
ResultNode does (ResultNode.pm:27-96): instance_location (JSON pointer into
the row), keyword_location (pointer through the schema *as evaluated*,
including $ref hops), absolute_keyword_location (canonical URI).
"""

from __future__ import annotations

import json
import operator
import re
from dataclasses import dataclass, field as dc_field
from functools import partial
from typing import Any, Callable
from urllib.parse import urldefrag, urljoin

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_modern_spark.functions.formats import format_predicate
from json_schema_modern_spark.spec.keywords import (
    BUILTIN_KEYWORDS,
    KEYWORDS,
    defined,
)
from json_schema_modern_spark.spec.media_types import get_media_type
from json_schema_modern_spark.spec.resolver import (
    VOCABS_BY_DIALECT,
    SchemaRegistry,
    SpecError,
    json_pointer_escape,
    metaschema_error,
    spec_fingerprint,
)
from json_schema_modern_spark.spec.vocabulary import (
    KeywordSpec,
    registered_keywords,
    registered_uris,
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("instance_location", T.StringType()),
        T.StructField("keyword_location", T.StringType()),
        T.StructField("absolute_keyword_location", T.StringType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("offending_value", T.StringType()),
    ]
)
_VIOL_ARR = T.ArrayType(VIOLATION_SCHEMA)


def _empty_viols() -> Column:
    return F.lit([]).cast(_VIOL_ARR)


@dataclass
class CompileOptions:
    validate_formats: bool = False
    # assert contentEncoding/contentMediaType/contentSchema instead of
    # treating them as annotations (reference: validate_content_schemas,
    # Modern.pm:87-93 / V/Content.pm:42-114)
    validate_content_schemas: bool = False
    # compare number-looking strings numerically for range keywords
    # (reference: stringy_numbers, U.pm:255-261); off by default
    stringy_numbers: bool = False
    # reject schemas containing keywords this engine doesn't recognize
    # (reference: `strict` evaluator option, Modern.pm:104,817-820); off by
    # default — unknown keywords are ignored like annotations
    strict: bool = False
    # collect MetaData annotations (title/description/default/...) so
    # basic_output can report them for valid rows (reference:
    # collect_annotations, Modern.pm:104; annotations from failed
    # subschemas are discarded via per-entry guards).  Off by default,
    # like the reference.
    collect_annotations: bool = False
    # contract flag: array columns contain no null elements (the token-table
    # input_hint guarantees this by construction).  Spark file sources force
    # every schema nullable on read, so this cannot be derived from the
    # DataFrame; when set, the items fast path drops its per-element null
    # conjunct — whose array_compact expansion is a higher-order filter()
    # that de-vectorizes the whole Filter operator.  Off by default:
    # unknown-provenance data keeps the exact null-aware path.
    assume_dense_arrays: bool = False
    max_depth: int = 64          # reference default is 50 (Modern.pm:76-80)
    # per-keyword compile callbacks (reference: evaluation callbacks,
    # Modern.pm:652-663 / t/callbacks.t).  keyword -> fn(keyword, kloc,
    # akloc, value), fired once per (keyword, traversed location) the
    # compiler processes — including locations reached through $ref /
    # $dynamicRef hops, whose kloc carries the "/$ref" segment, so
    # coverage/telemetry tooling built on the reference's callback seam
    # has the same per-keyword visibility here.  In a set-oriented engine
    # the per-INSTANCE callback has no analogue (keywords evaluate once
    # per column, not once per row); the per-keyword-per-location compile
    # walk is the faithful projection.  The row tier (pyeval) keeps the
    # reference's full per-instance callback semantics.
    callbacks: dict | None = None


@dataclass
class SetCheck:
    """A cross-row check lifted out of the row-local plan (x-* keywords)."""

    kind: str                    # 'unique' | 'ref' | 'drift'
    keyword_location: str
    params: dict[str, Any]


@dataclass
class Compiled:
    ok: Column
    viols: list[Column] = dc_field(default_factory=list)
    # Static coverage annotations for unevaluatedItems/Properties
    # (SURVEY.md §2.4: compile-time coverage analysis replaces the
    # reference's runtime annotation collection, V/Unevaluated.pm:41-144).
    # Entries: (guard, payload) — guard None = unconditional; payload for
    # names: frozenset[str] | "all"; for items: int prefix length | "all".
    cov_names: list = dc_field(default_factory=list)
    cov_items: list = dc_field(default_factory=list)


# --- targets ---------------------------------------------------------------


_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_INT64_MIN, _INT64_MAX = -(2 ** 63), 2 ** 63 - 1


def _num_lit(v):
    """Literal for a schema-supplied number.  Out-of-int64 integers (the
    reference's integers corpus exercises ±2^63±1, which its bignum layer
    handles exactly — Modern.pm uses Math::BigInt) can't ship over py4j as
    longs; they become exact decimal literals (≤38 digits) or, beyond
    decimal range, the nearest double."""
    if isinstance(v, int) and not isinstance(v, bool) \
            and not (_INT64_MIN <= v <= _INT64_MAX):
        from decimal import Decimal
        if abs(v) < 10 ** 38:
            return F.lit(Decimal(v))
        return F.lit(float(v))
    return F.lit(v)



def _json_type_of(dtype: T.DataType) -> str:
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, _INTEGRAL_TYPES):
        return "integer"
    if isinstance(dtype, _NUMERIC_TYPES):
        return "number"
    if isinstance(dtype, (T.DateType, T.TimestampType, T.BinaryType)):
        return "string"  # serialized forms; length/pattern apply post-cast
    raise SpecError(f"unsupported column type for validation: {dtype}")


@dataclass
class Target:
    """A JSON value located somewhere in the row."""

    col: Column | None           # None only for the virtual root object
    dtype: T.DataType | None     # None only for the virtual root object
    ptr: Column                  # instance_location (string column)
    present: Column              # is the value present (non-NULL / row root)
    root_schema: T.StructType | None = None   # set for the virtual root
    # False for targets whose ptr/col reference higher-order-function
    # lambda variables (array elements inside forall/transform, map
    # entries): annotation entries cannot be lifted out of a lambda.
    annotatable: bool = True
    # True for array-element / map-value targets, where a SQL NULL is a
    # PRESENT JSON null (type "null") rather than an absent property.
    # Keyword predicates must then be total: type-gated keywords are
    # vacuously true on null, enum/const/type handle null explicitly —
    # otherwise three-valued SQL NULL would leak into the plan's validity.
    null_is_value: bool = False

    @property
    def is_root(self) -> bool:
        return self.root_schema is not None

    def json_type(self) -> str:
        return "object" if self.is_root else _json_type_of(self.dtype)

    def field_names(self) -> list[str]:
        if self.is_root:
            return [f.name for f in self.root_schema.fields]
        if isinstance(self.dtype, T.StructType):
            return [f.name for f in self.dtype.fields]
        return []

    def get_property(self, name: str) -> "Target | None":
        """Child target for a named property; None if statically absent."""
        if self.is_root:
            if name not in self.root_schema.fieldNames():
                return None
            f = self.root_schema[name]
            col = F.col("`" + name.replace("`", "``") + "`")
            return Target(
                col=col, dtype=f.dataType,
                ptr=F.concat(self.ptr, F.lit("/" + json_pointer_escape(name))),
                present=col.isNotNull(),
            )
        if isinstance(self.dtype, T.StructType):
            if name not in self.dtype.fieldNames():
                return None
            f = self.dtype[name]
            col = self.col.getField(name)
            return Target(
                col=col, dtype=f.dataType,
                ptr=F.concat(self.ptr, F.lit("/" + json_pointer_escape(name))),
                present=self.present & col.isNotNull(),
            )
        return None

    def value_col(self) -> Column:
        """The value as a comparable/printable column."""
        if self.is_root:
            raise SpecError("root object has no single value column")
        return self.col

    def offending_json(self) -> Column:
        if self.is_root:
            return F.lit("{...row...}")
        if isinstance(self.dtype, (T.StructType, T.ArrayType, T.MapType)):
            return F.to_json(self.col)
        return self.col.cast("string")


# --- the compiler ----------------------------------------------------------

# $schema URI → dialect tag (V/Core.pm:134-196 dialect dispatch; the
# keyword table's dialects column says which keywords each draft defines,
# and handlers keep the value semantics that differ: array-form
# items/additionalItems allowed ≤2019-09, draft4 boolean
# exclusiveMaximum/Minimum, $ref sibling masking ≤draft7)
_DIALECT_URIS = {
    "https://json-schema.org/draft/2020-12/schema": "2020-12",
    "https://json-schema.org/draft/2019-09/schema": "2019-09",
    "http://json-schema.org/draft-07/schema": "7",
    "http://json-schema.org/draft-06/schema": "6",
    "http://json-schema.org/draft-04/schema": "4",
}


def _detect_dialect(spec: Any) -> str:
    if not isinstance(spec, dict) or "$schema" not in spec:
        return "2020-12"
    uri = str(spec["$schema"]).rstrip("#")
    if uri not in _DIALECT_URIS:
        raise SpecError(f'EXCEPTION: unknown $schema dialect "{spec["$schema"]}"')
    return _DIALECT_URIS[uri]


# vocabularies this engine implements (V/Core.pm:363-395 semantics: a
# REQUIRED vocabulary the evaluator doesn't know must abort compilation;
# optional unknown vocabularies are ignored)
_KNOWN_VOCAB_URIS = frozenset().union(*VOCABS_BY_DIALECT.values())


def _check_vocabulary(spec: Any) -> None:
    if not isinstance(spec, dict) or "$vocabulary" not in spec:
        return
    vocab = spec["$vocabulary"]
    if not isinstance(vocab, dict) or not all(
            isinstance(v, bool) for v in vocab.values()):
        raise SpecError('"$vocabulary" value must be an object of boolean values')
    for uri, required in vocab.items():
        if required and uri not in _KNOWN_VOCAB_URIS \
                and uri not in registered_uris():
            raise SpecError(
                f'EXCEPTION: required vocabulary "{uri}" is not supported')


def _shape_error(kw: str, what: str, kloc: str) -> SpecError:
    n = "n" if what[0] in "aeiou" else ""
    return SpecError(f"{kw} value is not a{n} {what}"
                     + (f" (at {kloc})" if kloc else ""))


def _string_arrays(v: Any) -> bool:
    """Is `v` an object of arrays of strings (dependentRequired's shape)?"""
    return isinstance(v, dict) and all(
        isinstance(x, list) and all(isinstance(s, str) for s in x)
        for x in v.values())


def _is_num(v: Any) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


# a table row's value shape -> check(value, dialect); the SpecError names
# the shape.  Number shapes let null through; an exclusive bound is a
# number, or in draft 4 a boolean modifying maximum/minimum
# (V/Validation.pm:129-143).
_SHAPES: dict[str, Callable[[Any, str], bool]] = {
    "number": lambda v, d: v is None or _is_num(v),
    "exclusive bound": lambda v, d: v is None or _is_num(v) or (
        d == "4" and isinstance(v, bool)),
    "non-negative integer": lambda v, d: isinstance(v, int) and not isinstance(v, bool) and v >= 0,
    "string": lambda v, d: isinstance(v, str),
    "array": lambda v, d: isinstance(v, list),
    "boolean": lambda v, d: isinstance(v, bool),
    "array of strings": lambda v, d: isinstance(v, list) and all(isinstance(x, str) for x in v),
    "object of arrays of strings": lambda v, d: _string_arrays(v),
    "object": lambda v, d: isinstance(v, dict),
    "non-empty array": lambda v, d: isinstance(v, list) and bool(v),
}
_SHAPED = tuple((k.name, k.shape, _SHAPES[k.shape]) for k in KEYWORDS if k.shape)


def _shape_check(schema: dict, kloc: str, dialect: str) -> None:
    """Traverse-phase keyword type checks (the reference's
    assert_keyword_type layer, U.pm:866-869 / V/Validation.pm traverse
    subs), one per shaped table row in table order: malformed specs fail
    compilation with the reference's message shape instead of surfacing
    as downstream expression errors."""
    for kw, shape, ok in _SHAPED:
        if kw in schema and not ok(schema[kw], dialect):
            raise _shape_error(
                kw, "number" if shape == "exclusive bound" else shape, kloc)


class _Ctx:
    def __init__(self, registry: SchemaRegistry, options: CompileOptions):
        self.registry = registry
        self.options = options
        self.set_checks: list[SetCheck] = []
        self.depth = 0
        # compile-time dynamic scope: the chain of schema resources entered
        # while expanding, outermost first.  Because the compiler INLINES
        # subschemas, this chain at each $dynamicRef site is exactly the
        # runtime dynamic scope the reference maintains (Modern.pm
        # dynamic_scope pushes, Vocabulary.pm:76-94) — so dynamic-anchor
        # resolution here is fully faithful, not a static approximation.
        self.dynamic_scope: list[str] = []
        # collected MetaData annotations (collect_annotations):
        # dicts {ptr: Column, kloc, akloc, keyword, value, guard: Column|None}
        self.annotations: list[dict] = []
        # unresolvable-reference exception nodes recorded during compile
        # ("<kloc>/<kw>: <message>"): data rows hit them lazily (see
        # ref_exception), but spec-checking flows (CLI --check-only)
        # surface them eagerly like the reference's traverse phase would
        self.static_exceptions: list[str] = []


def _match_any_key(patterns: list):
    """Arity-1 key selector for F.filter: key matches ANY of `patterns`
    (explicit closure — Spark higher-order lambdas must not carry default
    args)."""
    def sel(k: Column) -> Column:
        cond = F.lit(False)
        for p in patterns:
            cond = cond | k.rlike(p)
        return cond
    return sel


def _unmatched_key(names: list, patterns: list):
    """Arity-1 key selector: key matched by NEITHER the literal name set
    nor any pattern (the additionalProperties complement)."""
    def sel(k: Column) -> Column:
        cond = F.lit(True)
        if names:
            cond = cond & ~k.isin(names)
        for p in patterns:
            cond = cond & ~k.rlike(p)
        return cond
    return sel


def _num_str(v: Any) -> str:
    """Format a schema number the way the reference's sprintf_num does."""
    if isinstance(v, bool):
        return json.dumps(v)
    if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return str(v)


def _viol(
    ok: Column, ptr: Column, kloc: str, akloc: str, keyword: str,
    error: Column | str, offending: Column,
) -> Column:
    err = F.lit(error) if isinstance(error, str) else error
    return F.when(ok, _empty_viols()).otherwise(
        F.array(
            F.struct(
                ptr.cast("string").alias("instance_location"),
                F.lit(kloc).alias("keyword_location"),
                F.lit(akloc).alias("absolute_keyword_location"),
                F.lit(keyword).alias("keyword"),
                err.alias("error"),
                offending.cast("string").alias("offending_value"),
            )
        )
    )


def _merge_viols(cols: list[Column]) -> Column:
    if not cols:
        return _empty_viols()
    if len(cols) == 1:
        return cols[0]
    return F.flatten(F.array(*cols))


def _conj(oks: list[Column]) -> Column:
    ok = F.lit(True)
    for o in oks:
        ok = ok & o
    return ok


def _ptr_escape_col(k: Column) -> Column:
    """JSON-pointer escape of a runtime string (RFC6901: ~ → ~0, / → ~1)."""
    return F.regexp_replace(F.regexp_replace(k, "~", "~0"), "/", "~1")


def _name_covered(name: str, payload) -> bool:
    """Static name-coverage test for struct targets (cov_names payloads:
    frozenset of names | "all" | ("pat", regex))."""
    if payload == "all":
        return True
    if isinstance(payload, tuple) and payload[0] == "pat":
        return re.search(payload[1], name) is not None
    return name in payload


def _const_eq(col: Column, v: Any, dtype: T.DataType) -> Column | None:
    """Deep type-strict equality of a column value with a schema constant
    (is_equal semantics, U.pm:242-299: order-insensitive objects,
    order-sensitive arrays, booleans ≠ numbers ≠ strings).  None = the
    constant can never equal a value of this type (statically false);
    nested impossibilities collapse to lit(False).  May yield SQL NULL on
    NULL inputs — callers coalesce."""
    jt = _json_type_of(dtype)
    if isinstance(v, bool):
        return (col == F.lit(v)) if jt == "boolean" else None
    if isinstance(v, (int, float)):
        if jt in ("integer", "number"):
            if jt == "integer" and isinstance(v, float) and v != int(v):
                return None
            if isinstance(v, int) and not (_INT64_MIN <= v <= _INT64_MAX):
                # an int64-decoded column can never hold this constant; a
                # double column compares against the nearest double
                if isinstance(dtype, _INTEGRAL_TYPES):
                    return None
                return col == F.lit(float(v))
            return col == F.lit(v).cast(dtype)
        return None
    if isinstance(v, str):
        return (col == F.lit(v)) if jt == "string" else None
    if v is None:
        return None          # null members handled by the null_is_value path
    if isinstance(v, list) and isinstance(dtype, T.ArrayType):
        conds = [F.size(col) == len(v)]
        for i, x in enumerate(v):
            e = F.element_at(col, i + 1)
            if x is None:
                conds.append(e.isNull())
                continue
            ee = _const_eq(e, x, dtype.elementType)
            conds.append(F.coalesce(ee, F.lit(False)) if ee is not None
                         else F.lit(False))
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    if isinstance(v, dict) and isinstance(dtype, T.StructType):
        if set(v) - set(dtype.fieldNames()):
            return F.lit(False)      # constant has a key the type can't hold
        conds = []
        for f in dtype.fields:
            fv = col.getField(f.name)
            if f.name not in v:
                conds.append(fv.isNull())    # absent in const ⇒ absent here
            elif v[f.name] is None:
                conds.append(fv.isNull())
            else:
                ee = _const_eq(fv, v[f.name], f.dataType)
                conds.append(F.coalesce(ee, F.lit(False)) if ee is not None
                             else F.lit(False))
        out = F.lit(True)
        for c in conds:
            out = out & c
        return out
    if isinstance(v, dict) and isinstance(dtype, T.MapType):
        conds = [F.size(col) == len(v)]
        for k, x in v.items():
            conds.append(F.map_contains_key(col, F.lit(k)))
            e = F.element_at(col, F.lit(k))
            if x is None:
                conds.append(F.map_contains_key(col, F.lit(k)) & e.isNull())
            else:
                ee = _const_eq(e, x, dtype.valueType)
                conds.append(F.coalesce(ee, F.lit(False)) if ee is not None
                             else F.lit(False))
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    return None


def _prop_count(t: Target) -> Column:
    if t.is_root:
        return sum((F.col(n).isNotNull().cast("int") for n in t.field_names()), F.lit(0))
    if isinstance(t.dtype, T.MapType):
        return F.size(t.value_col())
    if isinstance(t.dtype, T.StructType):
        return sum((t.col.getField(n).isNotNull().cast("int") for n in t.field_names()), F.lit(0))
    return F.lit(0)


def _map_value_target(t: Target, name: str) -> Target:
    vt = t.dtype.valueType
    col = F.element_at(t.value_col(), F.lit(name))
    return Target(
        col=col, dtype=vt,
        ptr=F.concat(t.ptr, F.lit("/" + json_pointer_escape(name))),
        present=t.present & F.map_contains_key(t.value_col(), F.lit(name)),
        null_is_value=True,  # a present map key with NULL value = JSON null
    )


# --- per-node state --------------------------------------------------------


class _Node:
    """Compile state of one schema object, shared by its keyword handlers:
    the conjuncts and violation columns gathered so far, the static
    coverage unevaluated* reads (SURVEY.md §2.4: compile-time coverage
    analysis replaces the reference's runtime annotation collection,
    V/Unevaluated.pm:41-144), the map-keyword predicates awaiting the
    node's one fused map pass (see _map_props), the property names and
    patterns claimed at this level, and the positional prefix length."""

    def __init__(self, c: "ColumnCompiler", schema: dict, t: Target,
                 kloc: str, base: str, abs_ptr: str):
        self.c, self.schema, self.t = c, schema, t
        self.kloc, self.base, self.abs_ptr = kloc, base, abs_ptr
        self.jt = t.json_type()
        self.is_map = isinstance(t.dtype, T.MapType)
        # applicator annotations (evaluated names) are recorded on objects
        self.annotating = (c.options.collect_annotations and t.annotatable
                           and self.jt == "object")
        self.oks: list[Column] = []
        self.viols: list[Column] = []
        self.cov_names: list = []
        self.cov_items: list = []
        self.map_fuse: list = []
        self.matched_names: set[str] = set()
        self.pattern_res: list[str] = []
        self.n_prefix = 0

    def applies(self, types: tuple[str, ...] | None) -> bool:
        """Does a keyword asserting on `types` apply to this node's value?
        integer ⊂ number; under stringy_numbers the number keywords also
        compare number-looking strings (U.pm:255-261)."""
        if types is None or self.jt in types:
            return True
        return "number" in types and (self.jt == "integer" or (
            self.jt == "string" and self.c.options.stringy_numbers))

    def add(self, c: Compiled) -> None:
        self.oks.append(c.ok)
        self.viols.extend(c.viols)

    def adopt(self, c: Compiled, guard: Column | None) -> None:
        """Propagate a same-instance child's coverage annotations,
        conditioned on the child actually succeeding (annotations from
        failed subschemas are discarded — U.pm:823-829 semantics)."""
        for g, payload in c.cov_names:
            gg = guard if g is None else (g if guard is None else guard & g)
            self.cov_names.append((gg, payload))
        for g, payload in c.cov_items:
            gg = guard if g is None else (g if guard is None else guard & g)
            self.cov_items.append((gg, payload))

    def include(self, c: Compiled) -> None:
        """Add a same-instance child together with its coverage."""
        self.add(c)
        self.adopt(c, c.ok)

    def ptrs(self, kw: str, suffix: str = "") -> tuple[str, str]:
        """(keyword location, schema pointer) of `kw` at this node."""
        k = json_pointer_escape(kw) + suffix
        return f"{self.kloc}/{k}", f"{self.abs_ptr}/{k}"

    def akloc(self, ap: str) -> str:
        return self.c._akloc(self.base, ap)

    def sub(self, kw: str, node: Any, target: Target, suffix: str = "",
            guard: Column | bool | None = None) -> Compiled:
        """Compile subschema `node` at <kloc>/<kw><suffix>.  With `guard`,
        the annotations it collects are kept only when the guard holds
        (True: when the child itself succeeds) — annotations of failed or
        untaken subschemas are discarded (U.pm:823-829)."""
        mark = len(self.c.ctx.annotations)
        kp, ap = self.ptrs(kw, suffix)
        child = self.c._node(node, target, kp, self.base, ap)
        if guard is not None:
            self.c._gate_annotations(mark, child.ok if guard is True else guard)
        return child

    def offending(self) -> Column:
        t = self.t
        return t.offending_json() if not t.is_root else F.lit(None).cast("string")

    def E(self, kw: str, ok: Column, error: Column | str,
          null_vacuous: bool = True) -> Compiled:
        """A keyword assertion on this node's value, with its violation."""
        t = self.t
        if t.null_is_value and null_vacuous:
            # JSON-null value: type-gated keywords are vacuously true
            # (the reference skips keywords whose type doesn't match);
            # keeps the predicate total — no three-valued NULL leaks
            ok = F.when(t.value_col().isNull(), F.lit(True)).otherwise(ok)
        ok = F.when(t.present, ok).otherwise(F.lit(True))
        kp, ap = self.ptrs(kw)
        return Compiled(ok=ok, viols=[_viol(ok, t.ptr, kp, self.akloc(ap), kw,
                                            error, self.offending())])

    def summary(self, ok: Column, kw: str, error: Column | str) -> Column:
        """The keyword's own rollup violation row (no offending value)."""
        kp, ap = self.ptrs(kw)
        return _viol(ok, self.t.ptr, kp, self.akloc(ap), kw, error,
                     F.lit(None).cast("string"))

    def ref_exception(self, kw: str, msg: str) -> Compiled:
        """Lazy-resolution parity (Modern.pm evaluates $ref on reach;
        pyeval raises EvalError at eval time): a reference that fails
        to RESOLVE compiles to a statically-false node instead of
        aborting compilation, so rows that never consult this branch
        (if:false/then, untaken anyOf arms) stay valid — the corpus's
        badRef "good references in schemas" contract.  Granularity
        deviation vs the reference (whole-evaluation abort when
        reached) is recorded in docs/DEVIATIONS.md."""
        self.c.ctx.static_exceptions.append(f"{self.kloc}/{kw}: {msg}")
        ok = ~self.t.present
        kp, ap = self.ptrs(kw)
        return Compiled(ok=ok, viols=[_viol(
            ok, self.t.ptr, kp, self.akloc(ap), kw, f"EXCEPTION: {msg}",
            self.offending())])

    def annotate(self, kw: str, value: Any = None,
                 value_col: Column | None = None) -> None:
        """Record one annotation entry.  Static values are JSON-encoded at
        compile time; `value_col` carries a row-dependent value as a
        JSON-text Column (the applicator annotations — evaluated property
        names — are per-row in a MapType/struct world)."""
        kp, ap = self.ptrs(kw)
        self.c.ctx.annotations.append({
            "ptr": self.t.ptr, "kloc": kp, "akloc": self.akloc(ap),
            "keyword": kw, "value": value, "value_col": value_col,
            "guard": None})

    def annotate_names(self, kw: str, pairs: list) -> None:
        """Applicator annotation whose value is the list of property names
        the keyword evaluated on this row (V/Applicator.pm:448,487,523 —
        properties/patternProperties/additionalProperties push the names
        seen; name order is sorted here where the reference's Perl hash
        iteration is unspecified).  `pairs` = (name, presence Column)."""
        if pairs:
            arr = F.array_sort(F.array_compact(F.array(
                *[F.when(p, F.lit(n)) for n, p in pairs])))
        else:
            arr = F.array().cast("array<string>")
        self.annotate(kw, value_col=F.to_json(arr))

    def annotate_keys(self, kw: str, key_sel) -> None:
        """Same as annotate_names for an open-properties MapType column:
        the evaluated names are the runtime keys `key_sel` selects."""
        keys = F.array_sort(F.filter(F.map_keys(self.t.value_col()), key_sel))
        self.annotate(kw, value_col=F.to_json(keys))

    def cover_matched_names(self) -> None:
        """Coverage of the names this level's properties/patternProperties
        claimed (statically known on typed rows/structs — the schema fixes
        the name set)."""
        if self.matched_names:
            self.cov_names.append((None, frozenset(self.matched_names)))

    def alone(self, handler, kw: str, value: Any) -> Compiled:
        """Run one keyword handler as a node of its own: its conjuncts
        fold into one, and its coverage stays with it."""
        part = _Node(self.c, self.schema, self.t, self.kloc, self.base,
                     self.abs_ptr)
        handler(part, kw, value)
        return part.result()

    def result(self) -> Compiled:
        t = self.t
        if self.map_fuse:
            # ONE interpreted map_entries pass for ALL this node's map
            # keywords: ∀e.(p₁∧…∧pₙ) ≡ (∀e.p₁)∧…∧(∀e.pₙ), and SQL
            # three-valued logic agrees (false∧null=false; all-true with a
            # null gives null, coalesced true on both shapes)
            fns = tuple(self.map_fuse)

            def fused(e: Column) -> Column:
                # single-param signature: Spark HOFs dispatch on arity
                c = fns[0](e)
                for fn in fns[1:]:
                    c = c & fn(e)
                return c

            self.oks.append(F.when(t.present, F.coalesce(
                F.forall(F.map_entries(t.value_col()), fused), F.lit(True)))
                .otherwise(F.lit(True)))
        return Compiled(ok=_conj(self.oks), viols=self.viols,
                        cov_names=self.cov_names, cov_items=self.cov_items)


# --- keyword handlers: handler(node, keyword, value) ------------------------
# Core ----------------------------------------------------------------------


def _kw_annotation(n: _Node, kw: str, v: Any) -> None:
    """MetaData annotations (V/MetaData.pm:42-77), recorded with per-entry
    guards; basic_output reports them for VALID rows, where every
    unconditional-path subschema succeeded — so only branch applicators
    (anyOf/oneOf/not/if, dependentSchemas presence) need runtime guards."""
    if n.c.options.collect_annotations and n.t.annotatable:
        n.annotate(kw, value=v)


def _kw_ref(n: _Node, kw: str, ref: str) -> Compiled | None:
    try:
        res = n.c.registry.resolve(ref, n.base)
    except SpecError as exc:
        child = n.ref_exception(kw, str(exc))
    else:
        child = n.c._node(
            res.node, n.t, f"{n.kloc}/$ref", res.base_uri,
            res.pointer if res.canonical_uri == res.base_uri else "")
    n.include(child)
    if n.c.dialect in ("4", "6", "7"):
        # drafts 4-7: $ref MASKS every sibling keyword — the ref target
        # is the whole schema (V/Core.pm draft≤7 dispatch)
        return Compiled(ok=child.ok, viols=n.viols,
                        cov_names=n.cov_names, cov_items=n.cov_items)
    return None


def _kw_dynamic_ref(n: _Node, kw: str, ref: str) -> None:
    """Full dynamic-scope semantics (V/Core.pm:327-361): resolve like $ref
    first; if the landing spot carries the matching $dynamicAnchor,
    re-resolve through the dynamic scope with the OUTERMOST declaration
    winning.  The compiler's inlining chain is the runtime dynamic scope,
    so this is exact."""
    try:
        res = n.c.registry.resolve(ref, n.base)
    except SpecError as exc:
        child = n.ref_exception(kw, str(exc))
    else:
        _, frag = urldefrag(urljoin(n.base, ref))
        if frag and not frag.startswith("/") and isinstance(res.node, dict) \
                and res.node.get("$dynamicAnchor") == frag:
            dyn = n.c.registry.resolve_dynamic(frag, n.c.ctx.dynamic_scope)
            if dyn is not None:
                res = dyn
        child = n.c._node(res.node, n.t, f"{n.kloc}/$dynamicRef", res.base_uri, "")
    n.include(child)


def _kw_recursive_ref(n: _Node, kw: str, ref: str) -> None:
    """2019-09 predecessor (V/Core.pm:262-279): resolve statically like
    $ref (ANY URI value — the recursive-dynamic corpus points one at a
    boolean schema); ONLY if the landing spot declares
    $recursiveAnchor:true does the ref re-resolve against the OUTERMOST
    in-scope resource declaring a recursive anchor."""
    reg = n.c.registry
    try:
        res = reg.resolve(ref, n.base)
        if isinstance(res.node, dict) and res.node.get("$recursiveAnchor") is True:
            for outer in n.c.ctx.dynamic_scope:
                if outer in reg.recursive_anchors:
                    res = reg.resolve(ref, outer)
                    break
    except SpecError as exc:
        child = n.ref_exception(kw, str(exc))
    else:
        child = n.c._node(res.node, n.t, f"{n.kloc}/$recursiveRef", res.base_uri, "")
    n.include(child)


# Validation ----------------------------------------------------------------


def _nonnull_type_ok(wants: list, t: Target) -> Column:
    """Runtime type check for a definitely-non-null value (the static
    dtype decides, with the integer⊂number / 2.0-is-integer cases)."""
    jt = t.json_type()
    if jt in wants or (jt == "integer" and "number" in wants):
        return F.lit(True)
    if jt == "number" and "integer" in wants:
        v = t.value_col()
        return v == F.floor(v).cast(t.dtype)
    return F.lit(False)


def _kw_type(n: _Node, kw: str, want: Any) -> None:
    wants = want if isinstance(want, list) else [want]
    if not wants:
        raise SpecError("type array is empty")
    for w in wants:
        if w not in ("null", "boolean", "object", "array", "string", "number", "integer"):
            raise SpecError(f'unrecognized type "{w}"')
    t, jt = n.t, n.jt
    if t.null_is_value and "null" not in wants:
        # a JSON-null element has runtime type "null" even though the
        # static element type matches — the check cannot constant-fold
        ok = F.when(t.value_col().isNull(), F.lit(False)) \
            .otherwise(_nonnull_type_ok(wants, t))
        n.add(n.E(kw, ok, f"got null or {jt}, not {', '.join(wants)}",
                  null_vacuous=False))
    elif jt in wants or (jt == "integer" and "number" in wants):
        n.add(Compiled(ok=F.lit(True)))
    elif jt == "number" and "integer" in wants:
        if n.c.dialect == "4":
            # draft4 legacy_ints (U.pm:141-147): an integer is "a JSON
            # number without a fraction part" AS WRITTEN — a
            # fractional-typed column is never an integer, even at 2.0
            n.add(n.E(kw, F.lit(False), "got number, not integer"))
        else:
            # ≥draft6: 2.0 is an integer (Utilities.pm:152-156); holds for
            # Double/Float and Decimal alike (floor round-trips)
            v = t.value_col()
            n.add(n.E(kw, v == F.floor(v).cast(t.dtype), "got number, not integer"))
    else:
        plural = "one of " if len(wants) > 1 else ""
        n.add(n.E(kw, F.lit(False), f"got {jt}, not {plural}{', '.join(wants)}"))


def _kw_enum(n: _Node, kw: str, values: list) -> None:
    t = n.t
    if t.is_root:
        return
    ok = F.lit(False)
    for v in values:
        c = _const_eq(t.value_col(), v, t.dtype)
        if c is not None:
            ok = ok | F.coalesce(c, F.lit(False))
    if t.null_is_value:
        # type-strict equality: JSON null matches only a null member
        ok = F.when(t.value_col().isNull(),
                    F.lit(any(v is None for v in values))).otherwise(ok)
    n.add(n.E(kw, ok, "value does not match", null_vacuous=False))


def _kw_const(n: _Node, kw: str, value: Any) -> None:
    t = n.t
    if t.is_root:
        return
    c = _const_eq(t.value_col(), value, t.dtype)
    ok = F.lit(False) if c is None else F.coalesce(c, F.lit(False))
    if t.null_is_value:
        ok = F.when(t.value_col().isNull(), F.lit(value is None)).otherwise(ok)
    n.add(n.E(kw, ok, "value does not match", null_vacuous=False))


def _kw_multiple_of(n: _Node, kw: str, m: Any) -> None:
    if not isinstance(m, (int, float)) or isinstance(m, bool) or m <= 0:
        raise SpecError("multipleOf value is not a positive number")
    dec = "decimal(38,12)"
    v = n.t.value_col()
    if n.jt == "string":
        # stringy_numbers: a non-numeric string stays vacuously valid
        v = v.cast("string").try_cast(dec)
        ok = F.when(v.isNull(), F.lit(True)).otherwise(
            F.pmod(v, _num_lit(m).cast(dec)) == F.lit(0).cast(dec))
    elif isinstance(n.t.dtype, _INTEGRAL_TYPES) and float(m).is_integer():
        ok = (v % _num_lit(int(m))) == 0
    else:
        # bignum-exact float modulo (V/Validation.pm:119-123) →
        # fixed-point decimal pmod; exact within 38 digits
        ok = F.pmod(v.cast(dec), _num_lit(m).cast(dec)) == F.lit(0).cast(dec)
    n.add(n.E(kw, ok, f"value is not a multiple of {_num_str(m)}"))


_RANGE_OPS = {
    "maximum": (operator.le, "value is greater than %s"),
    "exclusiveMaximum": (operator.lt, "value is greater than or equal to %s"),
    "minimum": (operator.ge, "value is less than %s"),
    "exclusiveMinimum": (operator.gt, "value is less than or equal to %s"),
}
# draft4 couples exclusiveMaximum/Minimum as BOOLEANS modifying
# maximum/minimum (V/Validation.pm:129-143)
_D4_EXCLUSIVE = {"maximum": "exclusiveMaximum", "minimum": "exclusiveMinimum"}


def _kw_range(n: _Node, kw: str, bound: Any) -> None:
    if isinstance(bound, bool):
        return                  # draft4 boolean form — folded into the base keyword
    op, msg = _RANGE_OPS[kw]
    if n.c.dialect == "4" and n.schema.get(_D4_EXCLUSIVE.get(kw)) is True:
        op, msg = _RANGE_OPS[_D4_EXCLUSIVE[kw]]
    v = n.t.value_col()
    if n.jt == "string":
        # stringy_numbers: number-looking strings compare numerically
        # (V/Validation.pm:74-75); a non-numeric string stays vacuously valid
        v = v.cast("string").try_cast("double")
    ok = op(v, _num_lit(bound))
    if n.jt == "string":
        ok = F.when(v.isNull(), F.lit(True)).otherwise(ok)
    n.add(n.E(kw, ok, msg % _num_str(bound)))


def _limit(n: _Node, kw: str, size: Column, lim: int, msg: str) -> None:
    n.add(n.E(kw, size <= lim if kw.startswith("max") else size >= lim, msg))


def _kw_length(n: _Node, kw: str, lim: int) -> None:
    _limit(n, kw, F.length(n.t.value_col().cast("string")), lim,
           f"length is {'greater' if kw == 'maxLength' else 'less'} than {lim}")


def _kw_item_count(n: _Node, kw: str, lim: int) -> None:
    _limit(n, kw, F.size(n.t.value_col()), lim,
           f"array has {'more' if kw == 'maxItems' else 'fewer'} than {lim} "
           f"item{'s' if lim != 1 else ''}")


def _kw_property_count(n: _Node, kw: str, lim: int) -> None:
    _limit(n, kw, _prop_count(n.t), lim,
           f"object has {'more' if kw == 'maxProperties' else 'fewer'} than "
           f"{lim} propert{'ies' if lim != 1 else 'y'}")


def _kw_pattern(n: _Node, kw: str, pattern: str) -> None:
    # partial match, like the reference's =~ (V/Validation.pm:217-228);
    # Java regex dialect — same deviation class the reference accepts
    # vs ECMA-262 (t/zzz-acceptance-draft2020-12.t:54-60)
    n.add(n.E(kw, n.t.value_col().cast("string").rlike(pattern),
              "pattern does not match"))


def _kw_unique_items(n: _Node, kw: str, unique: bool) -> None:
    if unique is True:
        v = n.t.value_col()
        n.add(n.E(kw, F.size(F.array_distinct(v)) == F.size(v), "items are not unique"))


def _kw_required(n: _Node, kw: str, names: list[str]) -> None:
    t = n.t
    missing_flags = []
    ok = F.lit(True)
    for name in names:
        pt = t.get_property(name)
        if pt is None and n.is_map:
            present = F.map_contains_key(t.value_col(), F.lit(name))
        else:
            present = pt.present if pt is not None else F.lit(False)
        ok = ok & present
        missing_flags.append(F.when(~present, F.lit(name)))
    missing = F.array_compact(F.array(*missing_flags))
    msg = F.concat(
        F.lit("object is missing propert"),
        F.when(F.size(missing) > 1, F.lit("ies: ")).otherwise(F.lit("y: ")),
        F.concat_ws(", ", missing),
    )
    n.add(n.E(kw, ok, msg))


def _kw_dependent_required(n: _Node, kw: str, deps: dict) -> None:
    t = n.t
    for prop, names in deps.items():
        pt = t.get_property(prop)
        if pt is None:
            continue
        dep_ok = F.lit(True)
        for d in names:
            dt_ = t.get_property(d)
            dep_ok = dep_ok & (dt_.present if dt_ is not None else F.lit(False))
        n.add(n.E(kw, F.when(pt.present, dep_ok).otherwise(F.lit(True)),
                  "not all dependencies are satisfied"))


# Content / Format ------------------------------------------------------------


def _kw_content(n: _Node, kw: str, _value: Any) -> None:
    """contentEncoding / contentMediaType / contentSchema assertions, one
    pass at whichever of the first two comes first (assertion mode only;
    annotation-only by default per 2020-12 — Modern.pm:87-93).

    The reference decodes per row through its media-type registry
    (V/Content.pm:42-114, decoders U.pm:481-743); here each stage is a
    whole-column expression: base64 validity by regex+shape, JSON
    well-formedness via try_parse_json (NULL on bad input), and
    contentSchema by deriving a Spark struct schema from the subschema's
    type annotations and recursing on the from_json result."""
    schema, t = n.schema, n.t
    if not n.c.options.validate_content_schemas or (
            kw == "contentMediaType" and "contentEncoding" in schema):
        return
    v = t.value_col().cast("string")
    out = []
    oks = []
    decoded = v
    # contentSchema exists from 2019-09; draft 7 ignores it
    cs = schema.get("contentSchema") \
        if defined("contentSchema", n.c.dialect) else None
    enc = schema.get("contentEncoding")
    if enc is not None:
        if enc == "base64":
            ok_enc = v.rlike(r"^[A-Za-z0-9+/\s]*={0,2}\s*$") & \
                (F.length(F.regexp_replace(v, r"\s", "")) % 4 == 0)
            decoded = F.unbase64(F.regexp_replace(v, r"\s", "")).cast("string")
        elif enc == "base64url":
            # RFC4648 §5 urlsafe alphabet, padding optional
            # (Modern.pm:1240-1250): translate -_ → +/ and re-pad to a
            # multiple of 4 before the JVM decoder
            s = F.regexp_replace(v, r"\s", "")
            ok_enc = s.rlike(r"^[A-Za-z0-9_\-]*={0,2}$") & \
                (F.length(F.regexp_replace(s, "=", "")) % 4 != 1)
            tr = F.translate(F.regexp_replace(s, "=", ""), "-_", "+/")
            padded = F.concat(
                tr,
                F.when(F.length(tr) % 4 == 2, F.lit("=="))
                 .when(F.length(tr) % 4 == 3, F.lit("="))
                 .otherwise(F.lit("")),
            )
            decoded = F.unbase64(padded).cast("string")
        else:
            # identity, or an unknown encoding: annotation only (the
            # reference aborts only in strict FormatAssertion-style vocab;
            # keep lenient)
            ok_enc = F.lit(True)
        c = n.E("contentEncoding", ok_enc, f"could not decode {enc} string")
        out.extend(c.viols)
        oks.append(c.ok)
        decoded = F.when(c.ok, decoded)
    mt = schema.get("contentMediaType")
    # resolve through the media-type registry: parameter stripping
    # ("text/plain;charset=utf-8" matches the "text/*" row), wildcard
    # lookup order exact > suffix > type/* > */*, and custom
    # register_media_type entries (Utilities.pm:695-742).  Resolution
    # happens ONCE at compile time — contentMediaType is a schema
    # literal — so the per-row work stays whole-column expressions.
    entry = get_media_type(mt) if mt is not None else None
    mtl = entry.handler if entry is not None else None
    cs_target: Target | None = None
    if mtl == "json":
        parsed_ok = F.try_parse_json(decoded).isNotNull() | decoded.isNull()
        c = n.E("contentMediaType", parsed_ok, f"could not decode string as {mt}")
        out.extend(c.viols)
        oks.append(c.ok)
        if cs is not None:
            sub_schema = _spark_schema_from_spec(cs)
            if sub_schema is not None:
                parsed = F.from_json(decoded, sub_schema)
                cs_target = Target(col=parsed, dtype=sub_schema, ptr=t.ptr,
                                   present=t.present & parsed.isNotNull())
    elif mtl == "text":
        # text/* registry entry (U.pm:557-569): any string decodes;
        # contentSchema sees the decoded STRING.  The charset
        # parameter participates in MATCHING above; Column-tier
        # values are already UTF-8 Spark strings, so the decode
        # itself is identity (the python tier applies charset).
        cs_target = Target(col=decoded, dtype=T.StringType(), ptr=t.ptr,
                           present=t.present & decoded.isNotNull())
    elif mtl == "ndjson":
        # every non-blank line must parse as JSON (U.pm:600-616)
        lines = F.filter(F.split(decoded, "\n"),
                         lambda ln: F.length(F.trim(ln)) > 0)
        nd_ok = F.forall(lines, lambda ln: F.try_parse_json(ln).isNotNull()) \
            | decoded.isNull()
        c = n.E("contentMediaType", nd_ok, f"could not decode string as {mt}")
        out.extend(c.viols)
        oks.append(c.ok)
    elif mtl == "form":
        # k=v pairs joined by & (U.pm:571-598); contentSchema sees the
        # parsed MAP — composing with the MapType object keywords
        form_ok = decoded.rlike(r"^([^=&]*=[^=&]*(&[^=&]*=[^=&]*)*)?$") \
            | decoded.isNull()
        c = n.E("contentMediaType", form_ok, f"could not decode string as {mt}")
        out.extend(c.viols)
        oks.append(c.ok)
        if cs is not None:
            parsed = F.str_to_map(decoded, F.lit("&"), F.lit("="))
            cs_target = Target(col=parsed,
                               dtype=T.MapType(T.StringType(), T.StringType()),
                               ptr=t.ptr,
                               present=t.present & c.ok & decoded.isNotNull())
    # octet-stream (opaque bytes — anything decodes, U.pm:548-555),
    # unmatched media types, and custom register_media_type entries that
    # carry only a python decoder (no Column handler): annotation only —
    # same as the reference's decoder-less registry rows
    # (U.pm:668 "return if not $definition->{decode}")
    if cs_target is not None and cs is not None:
        child = n.sub("contentSchema", cs, cs_target)
        oks.append(child.ok)
        out.extend(child.viols)
    n.add(Compiled(ok=_conj(oks), viols=out))


def _kw_format(n: _Node, kw: str, fmt: str) -> None:
    if n.c.options.validate_formats:
        pred = format_predicate(fmt, n.t.value_col().cast("string"))
        if pred is not None:
            n.add(n.E(kw, pred, f"not a valid {fmt}"))


# Applicator: arrays ----------------------------------------------------------


def _positional(n: _Node, kw: str, subs: list) -> None:
    """prefixItems / array-form items: one subschema per leading position;
    an element past the array's end is absent, not null."""
    t = n.t
    for i, s in enumerate(subs):
        idx = F.lit(i)
        present_i = t.present & (F.size(t.value_col()) > i)
        elem = Target(col=F.get(t.value_col(), idx), dtype=t.dtype.elementType,
                      ptr=F.concat(t.ptr, F.lit("/"), idx.cast("string")),
                      present=present_i, null_is_value=True)
        n.add(n.sub(kw, s, elem, suffix=f"/{i}", guard=present_i))
    n.n_prefix = len(subs)
    n.cov_items.append((None, n.n_prefix))


def _items(n: _Node, kw: str, s: Any) -> Compiled:
    """items (2020-12) / additionalItems (≤2019-09): every element after
    the positional prefix validates against one subschema.

    ok path: F.forall over the slice — stays in whole-stage codegen.
    Violations: transform-with-index building per-element violation
    arrays, flattened (only evaluated for rows that fail)."""
    t, k = n.t, n.n_prefix
    arr = t.value_col()
    et = t.dtype.elementType

    def elem_compiled(x: Column, i: Column) -> Compiled:
        idx = i + F.lit(k)
        return n.sub(kw, s, Target(
            col=x, dtype=et, ptr=F.concat(t.ptr, F.lit("/"), idx.cast("string")),
            present=F.lit(True), null_is_value=True, annotatable=False))

    rest = arr if k == 0 else F.slice(arr, k + 1, F.greatest(F.size(arr) - k, F.lit(0)))
    ok_inner = n.c._items_ok_peephole(s, t.dtype, rest)
    if ok_inner is None:
        ok_inner = F.forall(rest, lambda x: elem_compiled(x, F.lit(0)).ok)
    ok = F.when(t.present, F.coalesce(ok_inner, F.lit(True))).otherwise(F.lit(True))
    leaf = F.flatten(F.transform(rest, lambda x, i: _merge_viols(elem_compiled(x, i).viols)))
    leaf = F.when(ok, _empty_viols()).otherwise(leaf)
    adj = "additional " if kw == "additionalItems" else ""
    return Compiled(ok=ok, viols=[leaf, n.summary(
        ok, kw, f"subschema is not valid against all {adj}items")])


def _kw_prefix_items(n: _Node, kw: str, subs: list) -> None:
    _positional(n, kw, subs)
    if n.c.options.collect_annotations and n.t.annotatable:
        # largest evaluated index, or true when the whole array was
        # covered (V/Applicator.pm:314)
        n.annotate(kw, value_col=F.when(F.size(n.t.value_col()) <= n.n_prefix,
                                        F.lit("true"))
                   .otherwise(F.lit(str(n.n_prefix - 1))))


def _kw_items(n: _Node, kw: str, items: Any) -> None:
    if isinstance(items, list):
        # array form (≤2019-09): positional subschemas, with
        # `additionalItems` as the rest-schema (V/Applicator.pm:250-274);
        # the reference rejects it in 2020-12 with this same error (:254)
        if n.c.dialect == "2020-12":
            raise SpecError('array form of "items" not supported in draft2020-12')
        _positional(n, kw, items)
        return
    n.add(_items(n, kw, items))
    n.cov_items.append((None, "all"))
    if n.c.options.collect_annotations and n.t.annotatable:
        # schema-form items always annotates true after evaluating the
        # rest of the array (V/Applicator.pm:349)
        n.annotate(kw, value=True)


def _kw_additional_items(n: _Node, kw: str, s: Any) -> None:
    if isinstance(n.schema.get("items"), list):   # else nothing to extend
        n.add(_items(n, kw, s))
        n.cov_items.append((None, "all"))


def _kw_contains(n: _Node, kw: str, s: Any) -> None:
    """contains, with min/maxContains — which are evaluated INSIDE the
    contains keyword and do nothing without it (V/Applicator.pm:357-405)."""
    t = n.t
    et = t.dtype.elementType

    def elem_ok(x: Column) -> Column:
        return n.sub(kw, s, Target(col=x, dtype=et, ptr=t.ptr, present=F.lit(True),
                                   null_is_value=True, annotatable=False)).ok

    matches = F.size(F.filter(t.value_col(), elem_ok))
    # min/maxContains exist from 2019-09; earlier drafts ignore them
    bounds = n.schema if defined("minContains", n.c.dialect) else {}
    min_c = bounds.get("minContains", 1)
    max_c = bounds.get("maxContains")
    ok = F.lit(True) if min_c == 0 else \
        F.when(t.present, matches >= 1).otherwise(F.lit(True))
    oks = [ok]
    viols = [n.summary(ok, kw, "subschema is not valid against any item")]
    # matching ELEMENTS count as evaluated for unevaluatedItems (the
    # reference's matched-index annotation, V/Applicator.pm:360-381 +
    # V/Unevaluated.pm:41-98), guarded on the contains keyword succeeding
    n.cov_items.append((ok, ("epred", s)))
    if max_c is not None:
        ok = F.when(t.present, matches <= max_c).otherwise(F.lit(True))
        oks.append(ok)
        viols.append(n.summary(ok, "maxContains", f"array contains more than "
                               f"{max_c} matching item{'s' if max_c != 1 else ''}"))
    if min_c > 1:
        ok = F.when(t.present, matches >= min_c).otherwise(F.lit(True))
        oks.append(ok)
        viols.append(n.summary(ok, "minContains", f"array contains fewer than "
                               f"{min_c} matching item{'s' if min_c != 1 else ''}"))
    n.add(Compiled(ok=_conj(oks), viols=viols))


# Applicator: objects ---------------------------------------------------------


def _map_props(n: _Node, s: Any, sel, kw: str, suffix: str, summary_msg: str,
               emit_summary: bool = True, sel_all: bool = False) -> Column:
    """Object keyword over a MapType(String, V) column: the subschema
    applies to every entry whose key ``sel(key)`` selects.  Adds the
    keyword to the node and returns its own full predicate.

    Used for properties (exact key), patternProperties (key rlike
    pattern), additionalProperties (complement of properties ∪
    patternProperties) and unevaluatedProperties (complement of the
    coverage set) — V/Applicator.pm:453-526, V/Unevaluated.pm:100-144.

    ok-path: Spark HOFs are CodegenFallback (interpreted), so the
    per-entry predicate is expensive per map keyword.  Two peepholes:

    - ``sel_all`` (selector covers every key, e.g. additionalProperties
      with no sibling properties/patternProperties) + range-only value
      schema → ``array_min/array_max(map_values(col))`` collection
      expressions, fully codegen'd (precedent: _items_ok_peephole).
    - otherwise the per-entry predicate joins the node's fuse list and
      the node emits a SINGLE forall whose body conjoins every map
      keyword's predicate — ∀e.(p∧q) ≡ (∀e.p)∧(∀e.q), measured ~3.5× on
      the ok path with 3 map keywords.  The keyword's OWN forall is then
      used only inside the violation columns (evaluated on failing rows
      post-filter) and stays out of the node's ok conjunction.

    Violation detail (per-entry child viols at /<escaped key>) is
    computed only for rows that already failed."""
    t = n.t
    vt = t.dtype.valueType
    entries = F.map_entries(t.value_col())

    def ent_target(e: Column) -> Target:
        return Target(col=e["value"], dtype=vt,
                      ptr=F.concat(t.ptr, F.lit("/"), _ptr_escape_col(e["key"])),
                      present=F.lit(True), null_is_value=True,
                      annotatable=False)

    def ent_ok(e: Column) -> Column:
        return ~sel(e["key"]) | n.sub(kw, s, ent_target(e), suffix).ok

    ok_inner = None
    if sel_all:
        ok_inner = n.c._items_ok_peephole(
            s, T.ArrayType(vt, t.dtype.valueContainsNull),
            F.map_values(t.value_col()))
    fused = ok_inner is None
    if fused:
        n.map_fuse.append(ent_ok)
        ok_inner = F.forall(entries, ent_ok)
    ok = F.when(t.present, F.coalesce(ok_inner, F.lit(True))) \
        .otherwise(F.lit(True))

    def ent_viols(e: Column) -> Column:
        c = n.sub(kw, s, ent_target(e), suffix)
        return F.when(sel(e["key"]), _merge_viols(c.viols)).otherwise(_empty_viols())

    viols = [F.when(ok, _empty_viols()).otherwise(F.flatten(F.transform(entries, ent_viols)))]
    if emit_summary:
        viols.append(n.summary(ok, kw, summary_msg))
    n.add(Compiled(ok=F.lit(True) if fused else ok, viols=viols))
    return ok


def _kw_properties(n: _Node, kw: str, props: dict) -> None:
    t = n.t
    prop_present: list = []
    for name, s in props.items():
        pt = t.get_property(name)
        n.matched_names.add(name)
        suffix = f"/{json_pointer_escape(name)}"
        if pt is None:
            if not n.is_map:
                continue
            if not n.annotating:
                # join the node's single fused map_entries pass (sel:
                # exact key) instead of an element_at + map_contains_key
                # pair: with a DERIVED map column every extra reference
                # re-builds the map after filter pushdown inlines it — the
                # fused plan references the column once
                _map_props(n, s, (lambda k, _n=name: k == _n), kw, suffix,
                           "not all properties are valid", emit_summary=False)
                continue
            pt = _map_value_target(t, name)
        prop_present.append((name, pt.present))
        # absent property ⇒ subtree not evaluated ⇒ no annotations
        n.add(n.sub(kw, s, pt, suffix=suffix, guard=pt.present))
    if n.annotating:
        # evaluated-names annotation (V/Applicator.pm:448)
        n.annotate_names(kw, prop_present)
    if "patternProperties" not in n.schema:      # else it adds the names
        n.cover_matched_names()


def _kw_pattern_properties(n: _Node, kw: str, pats: dict) -> None:
    t = n.t
    pat_matched: list = []
    map_oks: list = []
    for pat, s in pats.items():
        n.pattern_res.append(pat)
        suffix = f"/{json_pointer_escape(pat)}"
        if n.is_map:
            # open-properties map column: the subschema applies to every
            # entry whose KEY matches at runtime (V/Applicator.pm:453-490);
            # Java-regex dialect, same deviation class as `pattern`
            map_oks.append(_map_props(
                n, s, (lambda k, _p=pat: k.rlike(_p)), kw, suffix,
                "not all properties are valid", emit_summary=False))
            n.cov_names.append((None, ("pat", pat)))
            continue
        for name in t.field_names():
            if re.search(pat, name):
                n.matched_names.add(name)
                pt = t.get_property(name)
                if not any(nm == name for nm, _ in pat_matched):
                    pat_matched.append((name, pt.present))
                n.add(n.sub(kw, s, pt, suffix=suffix, guard=pt.present))
    if n.annotating:
        # matched-names annotation (V/Applicator.pm:487, uniqstr)
        if n.is_map:
            n.annotate_keys(kw, _match_any_key(n.pattern_res))
        else:
            n.annotate_names(kw, pat_matched)
    if map_oks:
        # ONE summary row per patternProperties keyword, however many
        # patterns fail (Result shape parity: the reference emits a
        # single 'not all properties are valid' rollup)
        n.add(Compiled(ok=F.lit(True), viols=[
            n.summary(_conj(map_oks), kw, "not all properties are valid")]))
    n.cover_matched_names()


def _kw_additional_properties(n: _Node, kw: str, s: Any) -> None:
    t = n.t
    if n.is_map:
        names, pats = sorted(n.matched_names), list(n.pattern_res)
        _map_props(n, s, _unmatched_key(names, pats), kw, "",
                   "not all additional properties are valid",
                   sel_all=not names and not pats)
        if n.annotating:
            n.annotate_keys(kw, _unmatched_key(names, pats))
    else:
        extras = [nm for nm in t.field_names() if nm not in n.matched_names
                  and not any(re.search(p, nm) for p in n.pattern_res)]
        for name in extras:
            pt = t.get_property(name)
            n.add(n.sub(kw, s, pt, guard=pt.present))
        if n.annotating:
            # evaluated-extras annotation (V/Applicator.pm:523)
            n.annotate_names(kw, [(nm, t.get_property(nm).present) for nm in extras])
    n.cov_names.append((None, "all"))


def _kw_property_names(n: _Node, kw: str, s: Any) -> None:
    t = n.t
    if not n.is_map:
        for name in t.field_names():
            # the name is only validated when the property is PRESENT
            # (NULL column = absent property in our data model) — gate on
            # the property's own presence, not the object's
            n.add(n.sub(kw, s, Target(col=F.lit(name), dtype=T.StringType(),
                                      ptr=t.ptr, present=t.get_property(name).present)))
        return
    # over a MapType every KEY validates (V/Applicator.pm:528-548); the
    # key predicate joins the node's single fused map_entries forall
    # (see _map_props) instead of paying its own interpreted pass
    keys = F.map_keys(t.value_col())

    def name_target(k: Column) -> Target:
        return Target(col=k, dtype=T.StringType(),
                      ptr=F.concat(t.ptr, F.lit("/"), _ptr_escape_col(k)),
                      present=F.lit(True), annotatable=False)

    def name_ok(k: Column) -> Column:
        return n.sub(kw, s, name_target(k)).ok

    n.map_fuse.append(lambda e: name_ok(e["key"]))
    ok = F.when(t.present, F.coalesce(F.forall(keys, name_ok), F.lit(True))) \
        .otherwise(F.lit(True))
    leaf = F.when(ok, _empty_viols()).otherwise(F.flatten(F.transform(
        keys, lambda k: _merge_viols(n.sub(kw, s, name_target(k)).viols))))
    n.add(Compiled(ok=F.lit(True), viols=[
        leaf, n.summary(ok, kw, "not all property names are valid")]))


def _kw_dependent_schemas(n: _Node, kw: str, deps: dict) -> None:
    for prop, s in deps.items():
        pt = n.t.get_property(prop)
        if pt is None:
            continue
        child = n.sub(kw, s, n.t, suffix=f"/{json_pointer_escape(prop)}",
                      guard=pt.present)
        ok = F.when(pt.present, child.ok).otherwise(F.lit(True))
        gated = [F.when(pt.present, v).otherwise(_empty_viols()) for v in child.viols]
        n.add(Compiled(ok=ok, viols=gated))
        n.adopt(child, pt.present & child.ok)


def _kw_dependencies(n: _Node, kw: str, deps: dict) -> None:
    """draft4-7 (V/Applicator.pm:190-245): the array form is
    dependentRequired and the schema form dependentSchemas, each run as a
    node of its own.  Documented deviation: violation keyword_locations
    read /dependentRequired | /dependentSchemas, not /dependencies."""
    arrays = {k: v for k, v in deps.items() if isinstance(v, list)}
    schemas = {k: v for k, v in deps.items() if not isinstance(v, list)}
    if arrays:
        if not _string_arrays(arrays):
            raise _shape_error("dependentRequired", "object of arrays of strings",
                               n.kloc)
        n.add(n.alone(_kw_dependent_required, "dependentRequired", arrays))
    if schemas:
        n.add(n.alone(_kw_dependent_schemas, "dependentSchemas", schemas))


# Applicator: in place --------------------------------------------------------


def _kw_all_of(n: _Node, kw: str, subs: list) -> None:
    for i, s in enumerate(subs):
        n.include(n.sub(kw, s, n.t, suffix=f"/{i}"))


def _kw_any_of(n: _Node, kw: str, subs: list) -> None:
    children = [n.sub(kw, s, n.t, suffix=f"/{i}", guard=True)
                for i, s in enumerate(subs)]
    any_ok = F.lit(False)
    for c in children:
        any_ok = any_ok | c.ok
    any_ok = F.when(n.t.present, any_ok).otherwise(F.lit(True))
    for c in children:
        n.adopt(c, c.ok)
    gated = [F.when(any_ok, _empty_viols()).otherwise(v) for c in children for v in c.viols]
    gated.append(n.summary(any_ok, kw, "no subschemas are valid"))
    n.add(Compiled(ok=any_ok, viols=gated))


def _kw_one_of(n: _Node, kw: str, subs: list) -> None:
    children = [n.sub(kw, s, n.t, suffix=f"/{i}", guard=True)
                for i, s in enumerate(subs)]
    for c in children:
        n.adopt(c, c.ok)
    count = sum((c.ok.cast("int") for c in children), F.lit(0))
    ok = F.when(n.t.present, count == 1).otherwise(F.lit(True))
    valid_ids = F.concat_ws(", ", F.array_compact(F.array(
        *[F.when(c.ok, F.lit(str(i))) for i, c in enumerate(children)])))
    msg = F.when(count == 0, F.lit("no subschemas are valid")).otherwise(
        F.concat(F.lit("multiple subschemas are valid: "), valid_ids))
    gated = [F.when(count != 0, _empty_viols()).otherwise(v) for c in children for v in c.viols]
    gated.append(n.summary(ok, kw, msg))
    n.add(Compiled(ok=ok, viols=gated))


def _kw_not(n: _Node, kw: str, s: Any) -> None:
    child = n.sub(kw, s, n.t, guard=F.lit(False))
    ok = F.when(n.t.present, ~child.ok).otherwise(F.lit(True))
    # inner errors are discarded (V/Applicator.pm:133-145)
    n.add(Compiled(ok=ok, viols=[n.summary(ok, kw, "subschema is valid")]))


def _kw_if(n: _Node, kw: str, s: Any) -> None:
    t, schema = n.t, n.schema
    if_c = n.sub(kw, s, t, guard=True)
    then_c = n.sub("then", schema["then"], t, guard=if_c.ok) \
        if "then" in schema else Compiled(ok=F.lit(True))
    else_c = n.sub("else", schema["else"], t, guard=~F.coalesce(if_c.ok, F.lit(False))) \
        if "else" in schema else Compiled(ok=F.lit(True))
    ok = F.when(~t.present, F.lit(True)).when(if_c.ok, then_c.ok).otherwise(else_c.ok)
    n.adopt(if_c, if_c.ok)
    n.adopt(then_c, if_c.ok & then_c.ok)
    n.adopt(else_c, ~if_c.ok & else_c.ok)
    gated = [F.when(if_c.ok, v).otherwise(_empty_viols()) for v in then_c.viols]
    gated += [F.when(if_c.ok, _empty_viols()).otherwise(v) for v in else_c.viols]
    gated = [F.when(t.present, v).otherwise(_empty_viols()) for v in gated]
    n.add(Compiled(ok=ok, viols=gated))


# Unevaluated -----------------------------------------------------------------
# Evaluated after all coverage contributions are known — the reference
# enforces the same ordering (V/Applicator.pm:37-45).  Static coverage
# analysis with when()-guarded conditional branches replaces runtime
# annotation collection (V/Unevaluated.pm:41-144).


def _kw_unevaluated_properties(n: _Node, kw: str, s: Any) -> None:
    t = n.t
    if n.is_map:
        # runtime coverage over map entries: a key is covered when a
        # successful in-scope keyword claimed it — statically for name
        # sets, by regex for patternProperties, guarded for conditional
        # branches (V/Unevaluated.pm:100-144)
        if not any(g is None and p == "all" for g, p in n.cov_names):
            payloads = list(n.cov_names)

            def uncovered(k: Column) -> Column:
                cov = F.lit(False)
                for g, p in payloads:
                    if p == "all":
                        c = F.lit(True)
                    elif isinstance(p, tuple) and p[0] == "pat":
                        c = k.rlike(p[1])
                    elif p:
                        c = k.isin(sorted(p))
                    else:
                        c = F.lit(False)
                    if g is not None:
                        c = F.coalesce(g, F.lit(False)) & c
                    cov = cov | c
                return ~cov

            _map_props(n, s, uncovered, kw, "",
                       "not all additional properties are valid")
    else:
        for name in t.field_names():
            if any(g is None and _name_covered(name, p) for g, p in n.cov_names):
                continue            # statically covered
            covered = F.lit(False)
            for g, p in n.cov_names:
                if g is not None and _name_covered(name, p):
                    covered = covered | F.coalesce(g, F.lit(False))
            child = n.sub(kw, s, t.get_property(name))
            n.add(Compiled(
                ok=F.when(covered, F.lit(True)).otherwise(child.ok),
                viols=[F.when(covered, _empty_viols()).otherwise(v)
                       for v in child.viols],
            ))
    n.cov_names.append((None, "all"))


def _kw_unevaluated_items(n: _Node, kw: str, s: Any) -> None:
    t, cov = n.t, n.cov_items
    if not any(g is None and p == "all" for g, p in cov):
        all_cov = F.lit(False)
        for g, p in cov:
            if p == "all" and g is not None:
                all_cov = all_cov | F.coalesce(g, F.lit(False))
        static_prefix = max((p for g, p in cov
                             if g is None and isinstance(p, int)), default=0)
        n_cov = F.lit(static_prefix)
        for g, p in cov:
            if g is not None and isinstance(p, int):
                n_cov = F.greatest(n_cov, F.when(F.coalesce(g, F.lit(False)),
                                                 F.lit(p)).otherwise(F.lit(0)))
        # element-predicate coverage: contains' matched elements count as
        # evaluated (reference matched-index annotations)
        epreds = [(g, p[1]) for g, p in cov if isinstance(p, tuple) and p[0] == "epred"]
        arr = t.value_col()
        et = t.dtype.elementType

        def elem(x: Column) -> Target:
            return Target(col=x, dtype=et, ptr=t.ptr, present=F.lit(True),
                          null_is_value=True, annotatable=False)

        if not epreds:
            rest = F.slice(arr, n_cov + 1, F.greatest(F.size(arr) - n_cov, F.lit(0)))
            ok_inner = n.c._items_ok_peephole(s, t.dtype, rest)
            if ok_inner is None:
                ok_inner = F.forall(rest, lambda x: n.sub(kw, s, elem(x)).ok)
        else:
            def elem_ok(x: Column, i: Column) -> Column:
                covered = i < n_cov
                for g, es in epreds:
                    m = n.sub("contains", es, elem(x)).ok
                    covered = covered | (
                        m if g is None else F.coalesce(g, F.lit(False)) & m)
                return covered | n.sub(kw, s, elem(x)).ok
            ok_inner = F.forall(F.transform(arr, elem_ok), lambda b: b)
        ok = F.when(~t.present | all_cov, F.lit(True)) \
            .otherwise(F.coalesce(ok_inner, F.lit(True)))
        n.add(Compiled(ok=ok, viols=[n.summary(
            ok, kw, "subschema is not valid against all additional items")]))
    cov.append((None, "all"))


# Extensions ------------------------------------------------------------------


def _kw_set_check(n: _Node, kw: str, value: Any) -> None:
    """x-* keywords: cross-row checks lifted out of the row-local plan
    (the pipeline runs them)."""
    n.c.ctx.set_checks.append(SetCheck(
        kind=kw[2:], keyword_location=f"{n.kloc}/{kw}", params={"value": value}))


def _kw_custom(ks: KeywordSpec, n: _Node, kw: str, value: Any) -> None:
    """A registered custom-vocabulary keyword (add_vocabulary seam,
    Modern.pm:940-956), wrapped with the same presence gating and
    violation bookkeeping as the built-in keywords."""
    if ks.traverse is not None:
        try:
            ks.traverse(value)
        except ValueError as exc:
            raise SpecError(f"{kw} {exc} (at {n.kloc or '/'})") from exc
    if ks.types is not None and not (
            n.jt in ks.types or (n.jt == "integer" and "number" in ks.types)):
        return
    if ks.compile is None or n.t.is_root:
        return
    pred = ks.compile(value, n.t.value_col(), n.jt)
    if pred is not None:
        n.add(n.E(kw, F.coalesce(pred, F.lit(False)), ks.error))


# --- the handler map ---------------------------------------------------------
# keyword -> handler(node, keyword, value), which compiles the keyword into
# the node; a handler that returns a Compiled ends the node (the draft 4-7
# ``$ref``).  Which keywords exist, their order, types and dialects are the
# rows of spec.keywords.KEYWORDS: annotation rows compile through
# _kw_annotation, and rows without a handler are known but evaluated by
# another row (``then`` by ``if``) or never assert (``$comment``).
HANDLERS: dict[str, Callable] = {
    "$ref": _kw_ref, "$dynamicRef": _kw_dynamic_ref,
    "$recursiveRef": _kw_recursive_ref, "type": _kw_type, "enum": _kw_enum,
    "const": _kw_const, "multipleOf": _kw_multiple_of,
    **dict.fromkeys(_RANGE_OPS, _kw_range),
    "maxLength": _kw_length, "minLength": _kw_length, "pattern": _kw_pattern,
    "contentEncoding": _kw_content, "contentMediaType": _kw_content,
    "format": _kw_format, "maxItems": _kw_item_count,
    "minItems": _kw_item_count, "uniqueItems": _kw_unique_items,
    "prefixItems": _kw_prefix_items, "items": _kw_items,
    "additionalItems": _kw_additional_items, "contains": _kw_contains,
    "required": _kw_required, "dependentRequired": _kw_dependent_required,
    "dependentSchemas": _kw_dependent_schemas,
    "dependencies": _kw_dependencies, "maxProperties": _kw_property_count,
    "minProperties": _kw_property_count, "properties": _kw_properties,
    "patternProperties": _kw_pattern_properties,
    "additionalProperties": _kw_additional_properties,
    "propertyNames": _kw_property_names, "allOf": _kw_all_of,
    "anyOf": _kw_any_of, "oneOf": _kw_one_of, "not": _kw_not, "if": _kw_if,
    "unevaluatedProperties": _kw_unevaluated_properties,
    "unevaluatedItems": _kw_unevaluated_items,
    **dict.fromkeys(("x-unique", "x-ref", "x-drift"), _kw_set_check),
}


class ColumnCompiler:
    """Compiles one schema document against one DataFrame schema."""

    def __init__(
        self,
        spec: Any,
        df_schema: T.StructType,
        options: CompileOptions | None = None,
        registry: SchemaRegistry | None = None,
    ):
        self.options = options or CompileOptions()
        self.registry = registry or SchemaRegistry()
        self.dialect = _detect_dialect(spec)
        _check_vocabulary(spec)
        self.root_uri = self.registry.add_schema(
            spec, "", dialect=self.dialect)
        self.spec = spec
        self.df_schema = df_schema
        self.ctx = _Ctx(self.registry, self.options)
        self.fingerprint = spec_fingerprint(spec)
        # (keyword, types, handler) in evaluation order: the table rows
        # this dialect defines that compile to something, then the
        # registered custom keywords in evaluation_order
        custom = registered_keywords()
        self.keywords = tuple(
            (k.name, k.types,
             _kw_annotation if k.annotation else HANDLERS[k.name])
            for k in KEYWORDS
            if (k.annotation or k.name in HANDLERS)
            and (k.dialects is None or self.dialect in k.dialects)
        ) + tuple((kw, None, partial(_kw_custom, ks))
                  for kw, (_voc, ks) in custom.items())
        self.known = BUILTIN_KEYWORDS | frozenset(custom)

    def compile(self) -> "CompiledPlan":
        root_target = Target(
            col=None, dtype=None, ptr=F.lit(""), present=F.lit(True),
            root_schema=self.df_schema,
        )
        compiled = self._node(self.spec, root_target, kloc="", base=self.root_uri, abs_ptr="")
        return CompiledPlan(
            ok=compiled.ok,
            viols=_merge_viols(compiled.viols),
            set_checks=self.ctx.set_checks,
            fingerprint=self.fingerprint,
            root_uri=self.root_uri,
            annotations=self.ctx.annotations,
            static_exceptions=self.ctx.static_exceptions,
        )

    # -- node dispatch ------------------------------------------------------

    def _node(self, schema: Any, t: Target, kloc: str, base: str, abs_ptr: str) -> Compiled:
        self.ctx.depth += 1
        try:
            if self.ctx.depth > self.options.max_depth:
                raise SpecError(
                    f"EXCEPTION: maximum evaluation depth {self.options.max_depth} exceeded"
                )
            if schema is True or schema == {}:
                return Compiled(ok=F.lit(True))
            if schema is False:
                akloc = self._akloc(base, abs_ptr)
                ok = ~t.present
                off = t.offending_json() if not t.is_root else F.lit("{...row...}")
                return Compiled(ok=ok, viols=[_viol(ok, t.ptr, kloc, akloc, "", "subschema is false", off)])
            if not isinstance(schema, dict):
                raise SpecError(f"invalid subschema at {kloc or '/'}")
            return self._object_schema(schema, t, kloc, base, abs_ptr)
        finally:
            self.ctx.depth -= 1

    def _akloc(self, base: str, abs_ptr: str) -> str:
        if not base:
            return abs_ptr or ""
        return f"{base}#{abs_ptr}" if abs_ptr else base

    def _object_schema(self, schema: dict, t: Target, kloc: str, base: str, abs_ptr: str) -> Compiled:
        _shape_check(schema, kloc, self.dialect)
        if isinstance(schema.get("$schema"), str):
            # a resource root reached via $ref may name a CUSTOM metaschema
            # (registered as another document); its $vocabulary must be
            # well-formed for this dialect — unresolvable or invalid
            # metaschemas abort compilation (vocabulary.json semantics,
            # shared check with the pyeval tier)
            _ms_err = metaschema_error(
                self.registry, self.dialect, schema["$schema"], base)
            if _ms_err:
                raise SpecError(_ms_err)
        if self.options.strict:
            unknown = sorted(k for k in schema
                             if k not in self.known and not k.startswith("x-"))
            if unknown:
                # reference strict mode (Modern.pm:817-820)
                raise SpecError(
                    f"unknown keyword{'s' if len(unknown) > 1 else ''} seen in "
                    f"schema: {', '.join(unknown)}")
        if self.options.callbacks:
            for kw, cb in self.options.callbacks.items():
                if kw in schema:
                    ke = json_pointer_escape(kw)
                    cb(kw, f"{kloc}/{ke}",
                       self._akloc(base, f"{abs_ptr}/{ke}"), schema[kw])
        # track $id scope changes for absolute keyword locations / ref bases
        if "$id" in schema:
            res = None
            try:
                res = self.registry.resolve(schema["$id"], base)
            except SpecError:
                pass
            if res is not None and res.node is schema:
                base, abs_ptr = res.canonical_uri, ""

        scope_pushed = False
        if not self.ctx.dynamic_scope or self.ctx.dynamic_scope[-1] != base:
            self.ctx.dynamic_scope.append(base)
            scope_pushed = True
        try:
            n = _Node(self, schema, t, kloc, base, abs_ptr)
            for kw, types, handler in self.keywords:
                if kw in schema and n.applies(types):
                    done = handler(n, kw, schema[kw])
                    if done is not None:
                        return done
            return n.result()
        finally:
            if scope_pushed:
                self.ctx.dynamic_scope.pop()

    # -- helpers ------------------------------------------------------------

    def _gate_annotations(self, start: int, guard: Column) -> None:
        """Apply a success/branch guard to annotations collected since
        `start` (annotations from failed/untaken subschemas are discarded —
        U.pm:823-829)."""
        for a in self.ctx.annotations[start:]:
            a["guard"] = guard if a["guard"] is None else (a["guard"] & guard)

    _RANGE_ONLY_KEYS = {"type", "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum"}

    def _items_ok_peephole(self, items_schema: Any, arr_type: T.ArrayType, rest: Column) -> Column | None:
        """Fast ok-path for the hot case (token-id range checks over huge
        int arrays): Spark's higher-order functions (forall/transform) are
        CodegenFallback — interpreted per element — while array_min/array_max
        are ordinary codegen'd collection expressions.  For an element
        schema that is purely numeric range checks, ``forall(arr, pred)``
        ≡ ``array_min(arr) >= lo AND array_max(arr) <= hi`` (NULL elements
        are JSON nulls, for which numeric keywords are vacuously true and
        which array_min/max skip — same semantics either way; a ``type``
        keyword re-introduces the null check via array_compact).

        Measured at 200k rows × ~700 tokens (local[32]): ~4-10× over the
        forall path.  The per-element violation-detail path is unchanged —
        it only evaluates for rows this predicate already failed.
        """
        if not isinstance(items_schema, dict) or not items_schema:
            return None
        if not set(items_schema) <= self._RANGE_ONLY_KEYS:
            return None
        et = arr_type.elementType
        if not isinstance(et, _NUMERIC_TYPES):
            return None
        want = items_schema.get("type")
        wants = want if isinstance(want, list) else [want] if want is not None else []
        if wants and not set(wants) <= {"integer", "number"}:
            return None
        if "integer" in wants and not set(wants) & {"number"} and not isinstance(et, _INTEGRAL_TYPES):
            return None  # fractional col: needs per-element floor check
        conds = []
        if "minimum" in items_schema:
            conds.append(F.array_min(rest) >= F.lit(items_schema["minimum"]))
        if "exclusiveMinimum" in items_schema:
            conds.append(F.array_min(rest) > F.lit(items_schema["exclusiveMinimum"]))
        if "maximum" in items_schema:
            conds.append(F.array_max(rest) <= F.lit(items_schema["maximum"]))
        if "exclusiveMaximum" in items_schema:
            conds.append(F.array_max(rest) < F.lit(items_schema["exclusiveMaximum"]))
        if wants and arr_type.containsNull and not self.options.assume_dense_arrays:
            # type: integer/number fails on JSON-null elements.  Only
            # needed when the schema admits null elements: with a
            # containsNull=false read schema (the token-table contract —
            # see sources.sequences.TOKEN_SCHEMA) this conjunct compiles
            # away entirely.  When it is needed, array_compact is the
            # least-bad exact check: its RuntimeReplaceable expansion is a
            # higher-order filter(), which de-vectorizes the Filter
            # operator (measured ~64 s vs ~25 s per 9.6M rows at 4 cores);
            # the codegen'd alternative, sort_array, is 4× worse still
            # (boxing sort of every array: ~255 s) — correctness wins.
            conds.append(F.size(F.array_compact(rest)) == F.size(rest))
        if not conds:
            return None
        ok = conds[0]
        for c in conds[1:]:
            ok = ok & c
        return F.coalesce(ok, F.lit(True))


@dataclass
class CompiledPlan:
    ok: Column
    viols: Column
    set_checks: list[SetCheck]
    fingerprint: str
    root_uri: str
    # collected MetaData annotations (collect_annotations option):
    # {ptr: Column, kloc, akloc, keyword, value, guard: Column|None}
    annotations: list = dc_field(default_factory=list)
    # "<kloc>/<kw>: <msg>" per unresolvable reference compiled to a lazy
    # exception node — spec-checking flows treat any entry as a traverse
    # error; data validation leaves them lazy (docs/DEVIATIONS.md)
    static_exceptions: list = dc_field(default_factory=list)


def _spark_schema_from_spec(spec: Any) -> T.StructType | None:
    """Derive a Spark struct schema from a JSON-Schema subschema's type
    annotations, so contentSchema can validate decoded JSON without the
    caller supplying a parallel DDL.  Returns None when the subschema has
    no usable `properties`/`type` info (validation then degrades to
    well-formedness only)."""
    def typ(s: Any) -> T.DataType:
        if not isinstance(s, dict):
            return T.StringType()
        jt = s.get("type")
        if isinstance(jt, list):
            jt = next((x for x in jt if x != "null"), None)
        if jt == "integer":
            return T.LongType()
        if jt == "number":
            return T.DoubleType()
        if jt == "boolean":
            return T.BooleanType()
        if jt == "array":
            return T.ArrayType(typ(s.get("items", {})))
        if jt == "object" or "properties" in s:
            obj = _spark_schema_from_spec(s)
            return obj if obj is not None else T.MapType(T.StringType(), T.StringType())
        return T.StringType()

    if not isinstance(spec, dict) or "properties" not in spec:
        return None
    fields = [T.StructField(name, typ(s)) for name, s in spec["properties"].items()]
    return T.StructType(fields) if fields else None


def compile_spec(
    spec: Any,
    df_schema: T.StructType,
    options: CompileOptions | None = None,
    registry: SchemaRegistry | None = None,
) -> CompiledPlan:
    return ColumnCompiler(spec, df_schema, options, registry).compile()
