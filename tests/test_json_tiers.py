"""validate_json_strings tier routing: columns | python | hybrid.

The python tier is the full pyeval evaluator distributed via mapInPandas
(pyeval/distributed.py); the hybrid tier routes per row on VARIANT
canonical equality — a document fast-paths ONLY when the typed decode
provably lost nothing (to_json(from_json(x)) == to_json(parse_json(x))),
so exactness never depends on the routing heuristic."""

import pytest

SPEC = {
    "type": "object", "required": ["a"],
    "properties": {
        "a": {"type": ["integer", "null"], "maximum": 80},
        "xs": {"type": "array", "maxItems": 3, "items": {"type": "integer"}},
        "big": {"maximum": 99999999999999999998},
    },
}

ROWS = [
    # (rid, payload, want_valid, want_fast_path)
    ("r01", '{"a": 5, "xs": [1, 2]}', True, True),
    ("r02", '{"a": 99}', False, True),                      # maximum
    ("r03", '{"xs": [1, 2, 3, 4], "a": 5}', False, True),   # maxItems; key order canonicalizes
    ("r04", '{"a": null}', True, False),                    # JSON null property
    ("r05", '{"xs": [1, "two"]}', False, False),            # mixed array + required
    ("r06", '{"a": 5, "extra": true}', True, False),        # undecoded field
    ("r07", '{"a": 1, "big": 99999999999999999999}', False, False),  # >int64 exact
    ("r08", '{"a": 1, "big": 99999999999999999997}', True, False),
    ("r09", 'garbage', False, False),                       # malformed
    ("r10", None, False, False),                            # SQL NULL payload
    ("r11", '{}', False, True),                             # empty obj: decode is exact
    ("r12", '{"a": 2, "a": 3}', False, False),              # dup key -> python
]


def _results(spark, tier):
    from json_schema_modern_spark import Validator

    df = spark.createDataFrame([(r, p) for r, p, _, _ in ROWS],
                               "rid string, payload string")
    res = Validator(SPEC).validate_json_strings(df, "payload",
                                                id_cols=["rid"], tier=tier)
    return res, {r["rid"]: r["_valid"]
                 for r in res.annotated.select("rid", "_valid").collect()}


@pytest.mark.parametrize("tier", ["python", "hybrid"])
def test_tier_validity(spark, tier):
    res, got = _results(spark, tier)
    for rid, _, want, _ in ROWS:
        # r12 (duplicate key): python's json.loads takes the LAST value —
        # a=3 ≤ 80 → valid; the reference's JSON decoder does the same
        want = True if rid == "r12" else want
        assert got[rid] is want, f"{tier} {rid}: want {want}, got {got[rid]}"
    assert res.flag() is False


def test_tier_validity_dup_key_note(spark):
    # keep the table honest: r12 is listed want_valid=False only for the
    # hybrid-routing column; validity-wise both tiers agree on True
    _, got = _results(spark, "python")
    assert got["r12"] is True


def test_hybrid_routing(spark):
    """Fast-path rows carry keyword-level violation detail; python-tier
    rows carry document-level rows — so the violation `keyword` column
    reveals which tier a failing row took."""
    res, _ = _results(spark, "hybrid")
    kw = {r["rid"]: r["keyword"]
          for r in res.violations.select("rid", "keyword").collect()}
    assert kw["r02"] == "maximum" and kw["r03"] == "maxItems"   # fast path
    assert kw["r05"] == "" and kw["r07"] == ""                  # python path
    assert kw["r09"] == "" and kw["r10"] == ""                  # exceptions
    # r11 {} fast-paths (decode exact): violation is the typed tier's
    # required-keyword row, not a document-level python row
    assert kw["r11"] == "required"


def test_python_tier_worker_cache(spark):
    """Same spec evaluated twice reuses the per-worker evaluator (the
    cache key is the registry fingerprint, deterministic across runs)."""
    from json_schema_modern_spark import Validator

    df = spark.createDataFrame([("x", '{"a": 1}')], "rid string, p string")
    v = Validator(SPEC)
    a = v.validate_json_strings(df, "p", id_cols=["rid"], tier="python")
    b = v.validate_json_strings(df, "p", id_cols=["rid"], tier="python")
    assert a.annotated.collect() == b.annotated.collect()


def test_hybrid_no_decode_schema_falls_back(spark):
    """A spec with no derivable decode schema routes everything python."""
    from json_schema_modern_spark import Validator

    spec = {"not": {"const": 4}}
    df = spark.createDataFrame([("x", "4"), ("y", "5")],
                               "rid string, p string")
    res = Validator(spec).validate_json_strings(df, "p", id_cols=["rid"],
                                                tier="hybrid")
    got = {r["rid"]: r["_valid"] for r in res.annotated.collect()}
    assert got == {"x": False, "y": True}


def test_hybrid_violations_are_the_routed_tiers(spark):
    """Each document's hybrid violation rows are the rows of the one tier
    it routes to: the typed tier's for the fast-path rows, the python
    tier's for the rest, the malformed (r09) and NULL (r10) payloads
    included."""
    from collections import Counter

    cols = ["rid", "instance_location", "keyword_location",
            "absolute_keyword_location", "keyword", "error", "offending_value"]
    fast = {rid for rid, _, _, want_fast in ROWS if want_fast}

    def rows(tier, keep):
        return Counter(tuple(r) for r in _results(spark, tier)[0]
                       .violations.select(*cols).collect() if keep(r["rid"]))

    want = rows("columns", fast.__contains__) \
        + rows("python", lambda rid: rid not in fast)
    assert {"r09", "r10"} <= {r[0] for r in want}
    assert rows("hybrid", lambda rid: True) == want
