"""Property-based differential test: the set-oriented Spark evaluation must
agree with an independent per-document Python evaluator (pyeval) on
randomly generated (spec, rows) pairs.

This mirrors the reference's dual-evaluation acceptance harness idea
(every case evaluated two ways and compared, t/lib/Acceptance.pm:79-91) —
here the second evaluator is a from-scratch recursive implementation, so a
systematic semantic error in the compiler cannot cancel out.  The 2020-12
properties compare against that oracle (``pyeval.evaluator``); the
dialect axis draws ``$schema`` from drafts 4 to 2020-12 and compares
against the full python tier under the same draft.

Fixed row shape: (a bigint, s string, arr array<bigint>).  SQL NULL in a
column means "property absent" (the engine's data model), so instances for
pyeval are dicts with null-valued keys dropped.
"""

import os

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from json_schema_modern_spark import Validator
from json_schema_modern_spark.compiler.column_compiler import _DIALECT_URIS


def _examples(default: int) -> int:
    """Fuzz budget: JSMS_FUZZ_EXAMPLES scales every property test for
    deep assurance runs (e.g. JSMS_FUZZ_EXAMPLES=200 pytest
    tests/test_differential.py); unset -> the quick suite default."""
    v = os.environ.get("JSMS_FUZZ_EXAMPLES")
    return int(v) if v else default

from json_schema_modern_spark.pyeval.evaluator import evaluate
from json_schema_modern_spark.pyeval.full import PyEvaluator

# -- spec grammar -----------------------------------------------------------

_ints = st.integers(-5, 5)

num_schema = st.fixed_dictionaries({}, optional={
    "minimum": _ints,
    "maximum": _ints,
    "exclusiveMinimum": _ints,
    "exclusiveMaximum": _ints,
    "multipleOf": st.integers(1, 4),
    "type": st.just("integer"),
    "enum": st.lists(_ints, min_size=1, max_size=4),
    "const": _ints,
})

str_schema = st.fixed_dictionaries({}, optional={
    "minLength": st.integers(0, 4),
    "maxLength": st.integers(0, 6),
    "pattern": st.sampled_from(["^a", "b$", "ab", "^[ab]+$", "a.c"]),
    "enum": st.lists(st.sampled_from(["a", "ab", "abc", "b"]), min_size=1, max_size=3),
    "const": st.sampled_from(["a", "ab", "b"]),
})

arr_schema = st.fixed_dictionaries({}, optional={
    "minItems": st.integers(0, 3),
    "maxItems": st.integers(0, 4),
    "uniqueItems": st.just(True),
    "items": num_schema,
    "prefixItems": st.lists(num_schema, min_size=1, max_size=2),
    "contains": num_schema,
    "maxContains": st.integers(0, 3),
    "minContains": st.integers(0, 2),
    "unevaluatedItems": st.sampled_from([False, {"minimum": -3}]),
    "const": st.sampled_from([[1, 2], [0, None], []]),
})

# ≤2019-09 array-form items + additionalItems (compiled positionally under
# a draft-07 $schema; fuzzed separately so the dialect gate stays exact)
arr_schema_legacy = st.fixed_dictionaries({}, optional={
    "minItems": st.integers(0, 3),
    "maxItems": st.integers(0, 4),
    "items": st.lists(num_schema, min_size=1, max_size=2),
    "additionalItems": st.one_of(st.just(False), num_schema),
})


# open-properties MAP column: object keywords resolved per entry at
# runtime (map_entries HOFs) — fuzzed against pyeval's dict semantics,
# including JSON-null map values (present key, null value)
map_schema = st.fixed_dictionaries({}, optional={
    "required": st.lists(st.sampled_from(["k1", "k2", "xq"]),
                         max_size=2, unique=True),
    "minProperties": st.integers(0, 3),
    "maxProperties": st.integers(0, 3),
    "properties": st.sampled_from([{"k1": {"minimum": 0}},
                                   {"k2": {"type": "integer"}},
                                   {"xq": {"const": 2}}]),
    "patternProperties": st.sampled_from([{"^k": {"minimum": -2}},
                                          {"q": {"maximum": 2}}]),
    "additionalProperties": st.sampled_from([False, {"minimum": -1}]),
    "propertyNames": st.sampled_from([{"pattern": "^k"}, {"maxLength": 2}]),
    "unevaluatedProperties": st.sampled_from([False, {"maximum": 3}]),
    # deep equality over object values (order-insensitive, null members)
    "const": st.sampled_from([{"k1": 1}, {"k1": 1, "k2": None}, {}]),
    "enum": st.sampled_from([[{"k1": 1}], [{"k1": 1}, {"k2": 2}, {}]]),
})


def _props(n, s, a, m=None):
    out = {}
    if n is not None:
        out["a"] = n
    if s is not None:
        out["s"] = s
    if a is not None:
        out["arr"] = a
    if m is not None:
        out["m"] = m
    return out


obj_extras = st.fixed_dictionaries({}, optional={
    "minProperties": st.integers(0, 3),
    "maxProperties": st.integers(0, 3),
    "propertyNames": st.sampled_from([{"pattern": "^a"}, {"pattern": "r"},
                                      {"minLength": 2}]),
    "patternProperties": st.sampled_from([{"^a": {"minimum": 0}},
                                          {"r": {"minItems": 1}}]),
    "additionalProperties": st.sampled_from([False, {"minimum": -2}]),
    "unevaluatedProperties": st.sampled_from([False, {"minimum": -5}]),
})

base_root = st.builds(
    lambda n, s, a, m, req, dep, extras: {
        "type": "object",
        **({"properties": _props(n, s, a, m)} if _props(n, s, a, m) else {}),
        **({"required": req} if req else {}),
        **({"dependentRequired": dep} if dep else {}),
        **extras,
    },
    st.one_of(st.none(), num_schema),
    st.one_of(st.none(), str_schema),
    st.one_of(st.none(), arr_schema),
    st.one_of(st.none(), map_schema),
    st.lists(st.sampled_from(["a", "s", "arr"]), max_size=2, unique=True),
    st.one_of(st.none(), st.fixed_dictionaries(
        {}, optional={"a": st.just(["s"]), "s": st.just(["arr"])})),
    obj_extras,
)

def _combinators(child):
    return st.one_of(
        child,
        st.builds(lambda kids: {"type": "object", "allOf": kids},
                  st.lists(child, min_size=1, max_size=2)),
        st.builds(lambda kids: {"type": "object", "anyOf": kids},
                  st.lists(child, min_size=1, max_size=2)),
        st.builds(lambda kids: {"type": "object", "oneOf": kids},
                  st.lists(child, min_size=1, max_size=2)),
        st.builds(lambda kid: {"type": "object", "not": kid}, child),
        st.builds(lambda i, t, e: {"type": "object", "if": i, "then": t, "else": e},
                  child, child, child),
        # cross-branch coverage: unevaluatedProperties consuming the
        # annotations of applicator children (guarded adoption)
        st.builds(lambda kid: {"type": "object", "allOf": [kid],
                               "unevaluatedProperties": {"minimum": -5}}, child),
        st.builds(lambda kid: {"type": "object",
                               "anyOf": [kid, {"minProperties": 9}],
                               "unevaluatedProperties": False}, child),
    )


# depth 2: combinators whose children may themselves be combinators
root_schema = _combinators(_combinators(base_root))

row = st.tuples(
    st.one_of(st.none(), _ints),
    st.one_of(st.none(), st.sampled_from(["", "a", "ab", "abc", "ba", "abab"])),
    # arrays may carry null ELEMENTS (JSON null values — present, type
    # null), exercising the null-aware items path vs the dense fast path
    st.one_of(st.none(), st.lists(st.one_of(st.none(), _ints), max_size=4)),
    # maps may carry null VALUES (present key, JSON null value)
    st.one_of(st.none(), st.dictionaries(
        st.sampled_from(["k1", "k2", "xq"]),
        st.one_of(st.none(), _ints), max_size=3)),
)


def _instance(r):
    d = {}
    if r[0] is not None:
        d["a"] = r[0]
    if r[1] is not None:
        d["s"] = r[1]
    if r[2] is not None:
        d["arr"] = list(r[2])
    if r[3] is not None:
        d["m"] = dict(r[3])
    return d


@settings(max_examples=_examples(25), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(spec=root_schema, rows=st.lists(row, min_size=1, max_size=6))
def test_spark_agrees_with_pyeval(spark_diff, spec, rows):
    df = spark_diff.createDataFrame(
        rows, "a bigint, s string, arr array<bigint>, m map<string,bigint>")
    res = Validator(spec).validate(df, id_cols=[])
    got = [r._valid for r in res.annotated.select("_valid").collect()]
    want = [evaluate(spec, _instance(r)) for r in rows]
    assert got == want, f"spec={spec!r} rows={rows!r} spark={got} pyeval={want}"
    # dual-mode: flag() must agree with the row flags
    assert res.flag() == all(got)


legacy_root = st.builds(
    lambda a: {"$schema": "http://json-schema.org/draft-07/schema#",
               "type": "object", "properties": {"arr": a}},
    arr_schema_legacy,
)


@settings(max_examples=_examples(12), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(spec=legacy_root, rows=st.lists(row, min_size=1, max_size=4))
def test_spark_agrees_with_pyeval_legacy_items(spark_diff, spec, rows):
    df = spark_diff.createDataFrame(
        rows, "a bigint, s string, arr array<bigint>, m map<string,bigint>")
    res = Validator(spec).validate(df, id_cols=[])
    got = [r._valid for r in res.annotated.select("_valid").collect()]
    want = [evaluate(spec, _instance(r)) for r in rows]
    assert got == want, f"spec={spec!r} rows={rows!r} spark={got} pyeval={want}"


@pytest.fixture(scope="module")
def spark_diff(spark):
    return spark


DIALECT_URIS = {d: uri for uri, d in _DIALECT_URIS.items()}   # dialect -> $schema


@settings(max_examples=_examples(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(dialect=st.sampled_from(sorted(DIALECT_URIS)), spec=root_schema,
       rows=st.lists(row, min_size=1, max_size=5))
def test_spark_agrees_with_pyeval_per_dialect(spark_diff, dialect, spec, rows):
    """The same grammar under each draft's $schema: a keyword the draft
    does not define (const/contains/propertyNames before draft 6,
    if/then/else before 7, min/maxContains and unevaluated* before
    2019-09, prefixItems before 2020-12, ...) is ignored by both tiers.
    The python tier here is the full evaluator with the draft's keyword
    set (``PyEvaluator(dialect=d)``)."""
    spec = {"$schema": DIALECT_URIS[dialect], **spec}
    df = spark_diff.createDataFrame(
        rows, "a bigint, s string, arr array<bigint>, m map<string,bigint>")
    res = Validator(spec).validate(df, id_cols=[])
    got = [r._valid for r in res.annotated.select("_valid").collect()]
    ev = PyEvaluator(dialect=dialect)
    root = ev.add_schema(spec)
    want = [ev.evaluate_uri(root, _instance(r)) for r in rows]
    assert got == want, \
        f"dialect={dialect} spec={spec!r} rows={rows!r} spark={got} pyeval={want}"


@settings(max_examples=_examples(10), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(spec=root_schema, rows=st.lists(row, min_size=1, max_size=5))
@pytest.mark.parametrize("tier", ["python", "hybrid"])
def test_json_tiers_agree_with_independent_evaluator(spark_diff, tier, spec,
                                                     rows):
    """The JSON-document tiers (validate_json_strings tier=python|hybrid)
    must agree with the independent recursive evaluator on the SAME
    instances rendered as JSON.  For tier=python this cross-checks the
    two python implementations (pyeval.full in executors vs
    pyeval.evaluator driver-side); for tier=hybrid it additionally pins
    the canonical-equality routing: a fast-pathed row is exactly one the
    typed Column tier evaluates identically."""
    import json as _json

    insts = [_instance(r) for r in rows]
    df = spark_diff.createDataFrame(
        [(i, _json.dumps(inst)) for i, inst in enumerate(insts)],
        "rid int, payload string")
    res = Validator(spec).validate_json_strings(
        df, "payload", id_cols=["rid"], tier=tier)
    got = {r["rid"]: r["_valid"]
           for r in res.annotated.select("rid", "_valid").collect()}
    want = [evaluate(spec, inst) for inst in insts]
    assert [got[i] for i in range(len(insts))] == want, \
        f"tier={tier} spec={spec!r} insts={insts!r} got={got} want={want}"
