"""The reference's OWN published acceptance corpora, driven end-to-end.

``tests/corpus/additional-tests-*/`` are verbatim vendored copies of
``/root/reference/t/additional-tests-{draft4,draft7,draft2019-09,
draft2020-12}/*.json`` — plain data files in the ``[{description, schema,
tests:[{data, valid}]}]`` format the reference harness consumes
(t/lib/Acceptance.pm:76-112, driven by the t/additional-tests-*.t scripts
with ``validate_formats => 1`` and the matching specification_version).

Two tiers, mirroring the reference's dual-evaluation contract:

1. every case through the pure-Python evaluator (``pyeval.full`` — lazy
   $ref resolution, dialect-gated keywords, dynamic scope,
   $vocabulary-aware metaschemas, format assertion).  One evaluator is
   shared across all groups of a file, like the harness shares one
   JSON::Schema::Modern instance: earlier groups register resources
   ($id'd metaschemas in vocabulary.json) that later groups address via
   $schema.
2. the tabularizable subset through the SPARK engine
   (``Validator.validate_json_strings``) — object-shaped instances whose
   keys are all materialized by the spec-derived decode schema, asserting
   per-row validity parity with the corpus expectation.

Current score: 2907/2907 across the four dialect directories — no
TODO-skips (the reference's own runs are also green,
t/results/*-additional-tests.txt).
"""

from __future__ import annotations

import json
import pathlib

import pytest

from json_schema_modern_spark.pyeval.full import EvalError, PyEvaluator
from json_schema_modern_spark.spec.resolver import SpecError

_ROOT = pathlib.Path(__file__).parent / "corpus"
CORPUS = _ROOT / "additional-tests-draft2020-12"
FILES = sorted(CORPUS.glob("*.json"))

# (directory, evaluator dialect) — one entry per reference .t script
DIALECT_DIRS = [
    ("additional-tests-draft4", "4"),
    ("additional-tests-draft7", "7"),
    ("additional-tests-draft2019-09", "2019-09"),
    ("additional-tests-draft2020-12", "2020-12"),
]
DIALECT_FILES = [(d, dialect, p)
                 for d, dialect in DIALECT_DIRS
                 for p in sorted((_ROOT / d).glob("*.json"))]


def _run_file(path: pathlib.Path, dialect: str = "2020-12") -> list[str]:
    """All mismatches in one corpus file (empty == green)."""
    groups = json.loads(path.read_text())
    ev = PyEvaluator(validate_formats=True, dialect=dialect)
    mismatches = []
    for gi, group in enumerate(groups):
        uri = f"https://corpus.invalid/{path.stem}/{gi}"
        root = add_err = None
        try:
            root = ev.add_schema(group["schema"], uri)
        except (SpecError, EvalError) as exc:
            add_err = str(exc)  # exception Result: every test is invalid
        for test in group["tests"]:
            if add_err is not None:
                got = False
            else:
                try:
                    got = ev.evaluate_uri(root, test["data"])
                except (SpecError, EvalError):
                    got = False
            if got is not test["valid"]:
                mismatches.append(
                    f"[{group['description']}] / [{test['description']}]: "
                    f"want {test['valid']}, got {got}")
    return mismatches


@pytest.mark.parametrize(
    "dirname,dialect,path", DIALECT_FILES,
    ids=[f"{d.removeprefix('additional-tests-')}-{p.stem}"
         for d, _, p in DIALECT_FILES])
def test_corpus_pyeval(dirname, dialect, path):
    mismatches = _run_file(path, dialect)
    assert not mismatches, f"{len(mismatches)} mismatches:\n" + "\n".join(mismatches)


def test_corpus_complete():
    """The vendored corpora are the complete reference directories and
    carry the expected case volume (65 + 761 + 993 + 1088 = 2907)."""
    per_dir = {
        d: sum(len(g["tests"])
               for p in sorted((_ROOT / d).glob("*.json"))
               for g in json.loads(p.read_text()))
        for d, _ in DIALECT_DIRS
    }
    assert len(FILES) == 25 and per_dir["additional-tests-draft2020-12"] >= 1000
    assert per_dir["additional-tests-draft2019-09"] >= 900
    assert per_dir["additional-tests-draft7"] >= 700
    assert per_dir["additional-tests-draft4"] >= 60


# ---------------------------------------------------------------------------
# tier 2: the tabularizable subset through the Spark engine


def _tabular_ok(data, dtype) -> bool:
    """True when `data` round-trips losslessly through the derived decode
    schema: every object key materialized, no JSON nulls (SQL NULL means
    *absent* in the engine's data model), scalars type-compatible."""
    import pyspark.sql.types as T

    if data is None or isinstance(data, bool):
        return isinstance(data, bool) and isinstance(dtype, T.BooleanType)
    if isinstance(data, dict):
        if not isinstance(dtype, T.StructType):
            return False
        fields = {f.name: f.dataType for f in dtype.fields}
        return all(k in fields and _tabular_ok(v, fields[k])
                   for k, v in data.items())
    if isinstance(data, list):
        return isinstance(dtype, T.ArrayType) and all(
            _tabular_ok(x, dtype.elementType) for x in data)
    if isinstance(data, str):
        return isinstance(dtype, T.StringType)
    if isinstance(data, int):
        return isinstance(dtype, (T.LongType, T.IntegerType, T.DoubleType,
                                  T.DecimalType))
    if isinstance(data, float):
        return isinstance(dtype, (T.DoubleType, T.DecimalType))
    return False


_DIALECT_SCHEMA_URI = {
    "4": "http://json-schema.org/draft-04/schema",
    "6": "http://json-schema.org/draft-06/schema",
    "7": "http://json-schema.org/draft-07/schema",
    "2019-09": "https://json-schema.org/draft/2019-09/schema",
    "2020-12": "https://json-schema.org/draft/2020-12/schema",
}


def _dtype_of(data):
    """Spark type the instance round-trips losslessly, or None.

    None/JSON-null (SQL NULL means *absent*), mixed-element arrays, empty
    objects, and out-of-int64 integers don't tabularize."""
    import pyspark.sql.types as T

    if isinstance(data, bool):
        return T.BooleanType()
    if isinstance(data, int):
        return T.LongType() if -(2**63) <= data < 2**63 else None
    if isinstance(data, float):
        return T.DoubleType()
    if isinstance(data, str):
        return T.StringType()
    if isinstance(data, list):
        ets = [_dtype_of(x) for x in data]
        if any(e is None for e in ets):
            return None
        if not ets:
            return T.ArrayType(T.StringType())
        if any(e != ets[0] for e in ets[1:]):
            return None
        return T.ArrayType(ets[0])
    if isinstance(data, dict):
        if not data:
            return None
        fields = []
        for k, v in data.items():
            ft = _dtype_of(v)
            if ft is None:
                return None
            fields.append(T.StructField(k, ft))
        return T.StructType(fields)
    return None


# The reference's TODO-skip discipline (t/zzz-acceptance-draft2020-12.t:49-63)
# applied to the Spark tier: group labels whose cases the compiled engine
# deliberately does not drive, each with its reason.  Kept next to the
# committed results file; the deviation ledger (docs/DEVIATIONS.md)
# references this table.
SPARK_TIER_SKIPS: dict[str, str] = {
}


def spark_tier_cases(with_remainder: bool = False):
    """Select every corpus case the Spark engine can drive and classify
    the remainder (the committed results file enumerates both).

    Two shapes, mirroring the reference harness contract
    (t/lib/Acceptance.pm:76-112):

    - DIRECT: the group schema has root `properties` and the instance is
      an object that round-trips the spec-derived decode schema — the
      engine's native table shape.
    - WRAPPED: any other instance becomes the one-column row {"v": data}
      validated by {"properties": {"v": {"$ref": <group schema's own
      registered uri>}}, "required": ["v"]}, with the group schema
      registered as its own document so every internal $id/$anchor/$ref
      resolves exactly as published.  The decode type for "v" derives
      from the instance itself.  A group schema whose registration or
      compilation raises drives as an exception Result (every case
      invalid) — the same contract the pyeval tier applies.

    Returns (specs, rows, tally): specs entries are (validator_factory,
    label, decode_schema_or_None); tally maps (dirname, file stem) →
    counts {"cases", "spark", "instance_not_tabular", "todo_skip"}.
    Groups without an explicit $schema get the directory's dialect
    injected, mirroring the harness's specification_version default.

    ``with_remainder=True`` additionally returns the instance_not_tabular
    cases as (schema, prior_extras, dialect, reg_err, rid, payload, want)
    rows — the python-tier (tier="python") coverage set."""
    import pyspark.sql.types as T

    from json_schema_modern_spark import Validator
    from json_schema_modern_spark.compiler.column_compiler import (
        CompileOptions,
        _spark_schema_from_spec,
    )

    # the reference's acceptance harness runs with validate_formats => 1
    # (t/zzz-acceptance-*.t), same as the pyeval corpus run above
    opts = CompileOptions(validate_formats=True)

    from json_schema_modern_spark.spec.resolver import SchemaRegistry

    rows, specs, tally, remainder = [], [], {}, []
    for dirname, dialect, path in DIALECT_FILES:
        t_ = tally.setdefault((dirname, path.stem), {
            "cases": 0, "spark": 0, "instance_not_tabular": 0,
            "todo_skip": 0})
        # pyeval's harness shares ONE evaluator per corpus file, so group
        # N can $ref/$schema-reference documents registered by groups
        # 0..N-1 (the vocabulary corpus depends on this).  Mirror that:
        # a cumulative probe registry decides which earlier groups
        # registered cleanly; their (uri, schema) pairs ride along as
        # extra_schemas for every later group in the file.
        shared_reg = SchemaRegistry()
        cum: list[tuple] = []
        for gi, group in enumerate(json.loads(path.read_text())):
            label = f"{dirname}/{path.stem}#{gi}"
            n_tests = len(group["tests"])
            t_["cases"] += n_tests
            if label in SPARK_TIER_SKIPS:
                t_["todo_skip"] += n_tests
                continue
            schema = group["schema"]
            if isinstance(schema, dict) and "$schema" not in schema:
                schema = {"$schema": _DIALECT_SCHEMA_URI[dialect], **schema}
            uri_g = f"https://corpus.invalid/{path.stem}/{gi}"
            prior = list(cum)
            try:
                target_g = shared_reg.add_schema(schema, uri_g, dialect=dialect)
                cum.append((uri_g, schema))
                reg_err = None
            except Exception as exc:
                target_g, reg_err = None, exc

            # DIRECT shape first: object instances over the spec-derived
            # decode schema
            direct_idx: set[int] = set()
            if isinstance(schema, dict):
                decode = _spark_schema_from_spec(schema)
                if decode is not None:
                    cases = [(ti, t) for ti, t in enumerate(group["tests"])
                             if isinstance(t["data"], dict)
                             and _tabular_ok(t["data"], decode)]
                    if cases:
                        sid = len(specs)
                        specs.append(
                            (lambda s=schema, ex=prior:
                             Validator(s, options=opts, extra_schemas=ex),
                             label, None))
                        direct_idx = {ti for ti, _ in cases}
                        t_["spark"] += len(cases)
                        rows.extend(
                            (sid, f"{label}#{ti}", json.dumps(t["data"]),
                             t["valid"])
                            for ti, t in cases)

            # WRAPPED shape for the rest
            units: dict[str, tuple] = {}
            for ti, t in enumerate(group["tests"]):
                if ti in direct_idx:
                    continue
                dt = _dtype_of(t["data"])
                if dt is None:
                    t_["instance_not_tabular"] += 1
                    remainder.append((schema, prior, dialect, reg_err,
                                      f"{label}#{ti}",
                                      json.dumps(t["data"]), t["valid"]))
                    continue
                units.setdefault(dt.simpleString(), (dt, []))[1].append((ti, t))
            for type_name, (dt, cases) in units.items():
                decode = T.StructType([T.StructField("v", dt)])

                def make(s=schema, u=uri_g, d=dialect, tgt=target_g,
                         err=reg_err, ex=prior):
                    if err is not None:
                        raise err     # group schema failed registration
                    wrapper = {
                        "$schema": _DIALECT_SCHEMA_URI[d],
                        "properties": {"v": {"$ref": tgt}},
                        "required": ["v"],
                    }
                    return Validator(wrapper, options=opts,
                                     extra_schemas=ex + [(u, s)])

                sid = len(specs)
                # one WRAPPED unit per decode type: the type names the unit
                specs.append((make, f"{label}/v:{type_name}", decode))
                t_["spark"] += len(cases)
                rows.extend(
                    (sid, f"{label}#{ti}", json.dumps({"v": t["data"]}),
                     t["valid"])
                    for ti, t in cases)
    if with_remainder:
        return specs, rows, tally, remainder
    return specs, rows, tally


def test_spark_tier_labels_are_unique():
    """Every Spark-tier spec has a label of its own: a group whose WRAPPED
    instances decode to several types yields one spec per type, and the
    label names the type (``<group>/v:<type>``)."""
    labels = [label for _, label, _ in spark_tier_cases()[0]]
    dups = sorted({x for x in labels if labels.count(x) > 1})
    assert not dups, dups[:10]
    assert any(x.endswith("/v:bigint") for x in labels)


def test_corpus_spark_cross_check(spark):
    """Drive selected corpus cases through the Spark engine and assert
    row-level validity parity with the corpus expectation (and therefore
    with the pyeval tier, which is fully green).  Covers ALL FOUR dialect
    directories.  A schema whose registration/compilation raises is an
    exception Result — every case invalid — matching the pyeval harness
    contract.

    Runtime shape: ~1700 compiled groups is a 10+-minute sequential run,
    so the default suite drives a DETERMINISTIC ~1/6 sample (md5 of the
    group label) across 16 threads; SPARK_CORPUS_FULL=1 drives everything
    (the committed results file was produced from a full green run, and
    tools/spark_corpus_results.py re-verifies it).  Tiny local relations
    get single-task plans for the duration (leafNodeDefaultParallelism)."""
    import hashlib
    import os
    from concurrent.futures import ThreadPoolExecutor

    from json_schema_modern_spark.pyeval.full import EvalError
    from json_schema_modern_spark.spec.resolver import SpecError

    specs, rows, _ = spark_tier_cases()
    n_groups = len(specs)
    assert n_groups >= 10, f"only {n_groups} tabularizable groups — filter too strict?"
    by_sid: dict[int, list] = {}
    for s, rid, payload, want in rows:
        by_sid.setdefault(s, []).append((rid, payload, want))

    full = os.environ.get("SPARK_CORPUS_FULL") == "1"
    sids = [sid for sid, (_, label, _) in enumerate(specs)
            if full or int(hashlib.md5(label.encode()).hexdigest(), 16) % 6 == 0]
    assert len(sids) >= 100

    def drive(sid):
        make, label, decode = specs[sid]
        mine = by_sid.get(sid, [])
        try:
            validator = make()
            df = spark.createDataFrame(
                [(rid, payload) for rid, payload, _ in mine],
                "rid string, payload string")
            res = validator.validate_json_strings(
                df, "payload", id_cols=["rid"], decode_schema=decode)
            invalid = {r["rid"]
                       for r in res.violations.select("rid").distinct().collect()}
            got = {rid: rid not in invalid for rid, _, _ in mine}
        except (SpecError, EvalError, ValueError):
            got = {rid: False for rid, _, _ in mine}
        return [f"{label} {rid}: want {want}, got {got[rid]}"
                for rid, _, want in mine if got[rid] is not want]

    before = {k: spark.conf.get(k, None) for k in
              ("spark.sql.shuffle.partitions",
               "spark.sql.leafNodeDefaultParallelism")}
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    try:
        with ThreadPoolExecutor(16) as ex:
            bad = [m for ms in ex.map(drive, sids) for m in ms]
    finally:
        for k, v in before.items():
            if v is not None:
                spark.conf.set(k, v)
    assert not bad, f"{len(bad)} Spark-tier mismatches:\n" + "\n".join(bad[:60])


def test_spark_tier_counts_committed():
    """The Spark tier's corpus coverage is a COMMITTED number, not a
    phrase (mirrors the reference's published t/results/
    *-additional-tests.txt): tests/corpus/results/spark-additional-tests.txt
    must match a fresh recount, file by file.  Regenerate with
    ``python tools/spark_corpus_results.py`` after corpus or compiler
    changes."""
    _, _, tally = spark_tier_cases()
    committed = {}
    results = _ROOT / "results" / "spark-additional-tests.txt"
    for line in results.read_text().splitlines():
        if not line.startswith("additional-tests-"):
            continue
        name, *kv = line.split()
        committed[name] = dict(p.split("=") for p in kv)
    fresh = {f"{d}/{stem}": t_ for (d, stem), t_ in tally.items()}
    assert set(committed) == set(fresh)
    for name, t_ in fresh.items():
        got = {k: int(v) for k, v in committed[name].items()}
        assert got == t_, f"{name}: committed {got} != fresh {t_}"
    # headline: every selected case is driven (parity asserted by
    # test_corpus_spark_cross_check) and the selection is substantial
    total_spark = sum(t_["spark"] for t_ in fresh.values())
    total_cases = sum(t_["cases"] for t_ in fresh.values())
    assert total_cases == 2907
    assert total_spark >= 500


# ---------------------------------------------------------------------------
# tier 3: the non-tabular remainder through the DISTRIBUTED python tier


def test_corpus_python_tier_remainder(spark):
    """Every instance_not_tabular case (JSON null / mixed-type array /
    empty object / >int64 — no lossless Spark type) drives through
    ``validate_json_strings(..., tier="python")``: the full python
    evaluator running inside executors via mapInPandas.  Together with
    test_corpus_spark_cross_check this puts ALL 2907 vendored acceptance
    cases through the Spark DataFrame API.  A group whose registration
    raises is an exception Result (every case invalid) — asserted
    driver-side, since the worker would surface it as a task error."""
    from concurrent.futures import ThreadPoolExecutor

    from json_schema_modern_spark import Validator
    from json_schema_modern_spark.compiler.column_compiler import (
        CompileOptions,
    )

    _, _, tally, remainder = spark_tier_cases(with_remainder=True)
    n_expected = sum(t_["instance_not_tabular"] for t_ in tally.values())
    assert len(remainder) == n_expected and n_expected >= 200

    groups: dict[int, dict] = {}
    for schema, prior, dialect, reg_err, rid, payload, want in remainder:
        g = groups.setdefault(id(schema), {
            "schema": schema, "prior": prior, "reg_err": reg_err,
            "cases": []})
        g["cases"].append((rid, payload, want))

    opts = CompileOptions(validate_formats=True)

    def drive(g):
        if g["reg_err"] is not None:
            return [f"{rid}: want {want}, got False (exception Result)"
                    for rid, _, want in g["cases"] if want is not False]
        v = Validator(g["schema"], options=opts, extra_schemas=g["prior"])
        df = spark.createDataFrame(
            [(rid, payload) for rid, payload, _ in g["cases"]],
            "rid string, payload string")
        res = v.validate_json_strings(df, "payload", id_cols=["rid"],
                                      tier="python")
        got = {r["rid"]: r["_valid"]
               for r in res.annotated.select("rid", "_valid").collect()}
        return [f"{rid}: want {want}, got {got[rid]}"
                for rid, _, want in g["cases"] if got[rid] is not want]

    with ThreadPoolExecutor(16) as ex:
        bad = [m for ms in ex.map(drive, groups.values()) for m in ms]
    assert not bad, f"{len(bad)} python-tier mismatches:\n" + "\n".join(bad[:40])
