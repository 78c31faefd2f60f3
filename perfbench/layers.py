"""Per-layer measurements for the traced run (``--trace 1``).

Each call into a layer's public function runs under its own Spark job
description, so the event log attributes tasks, input records, shuffle,
spill and GC to the layer.  Wall times are taken around the same calls.
Before them, the checkpointed call, the ``--resume`` call and the
in-memory tower have each run once untimed (``Bench.warm_up``).
Per-layer metric names and the end-to-end metric each one should move are
listed in perfbench/README.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

# Compiler stress spec over the token-table schema: $ref chains, contains,
# prefixItems + unevaluatedItems, allOf/if-then and unevaluatedProperties.
DEEP_SPEC = {
    "$id": "https://example.org/specs/token-sequences-deep",
    "$defs": {
        "id": {"$ref": "#/$defs/id2"}, "id2": {"$ref": "#/$defs/id3"},
        "id3": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
        "tok": {"$ref": "#/$defs/tok2"}, "tok2": {"$ref": "#/$defs/tok3"},
        "tok3": {"type": "integer", "minimum": 0, "maximum": 50256},
        "len": {"type": "integer", "minimum": 1, "maximum": 2048},
    },
    "type": "object",
    "required": ["doc_id", "tokens", "n_tok", "source"],
    "properties": {
        "doc_id": {"$ref": "#/$defs/id"},
        "tokens": {"type": "array", "maxItems": 2048,
                   "prefixItems": [{"$ref": "#/$defs/tok"}, {"$ref": "#/$defs/tok"}],
                   "contains": {"$ref": "#/$defs/tok"}, "minContains": 1,
                   "unevaluatedItems": {"$ref": "#/$defs/tok"}},
        "n_tok": {"$ref": "#/$defs/len"},
    },
    "allOf": [
        {"properties": {"source": {"enum": ["web", "books", "code", "wiki", "forums"]}}},
        {"if": {"properties": {"source": {"const": "code"}}},
         "then": {"properties": {"n_tok": {"minimum": 1}}}},
    ],
    "unevaluatedProperties": False,
}
# fixed samples for the per-document layers
PYEVAL_DOCS = {"tokens": 300, "json": 5000}
JSON_SAMPLE_MOD = 100    # token rows JSON-encoded for the JSON tiers: 1 in 100


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, float] = {}

    def span(self, name: str, fn):
        """Run ``fn`` under job description ``name``; record its wall time."""
        self.sc.setJobDescription(name)
        t = time.perf_counter()
        try:
            out = fn()
        finally:
            self.sc.setLocalProperty("spark.job.description", None)
        self.spans[name] = time.perf_counter() - t
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, n: int = 3) -> float:
    ts = []
    for _ in range(n):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def run_layers(bench) -> tuple[dict, dict]:
    """Time every layer on the workload's input; returns (spans, facts)."""
    from json_schema_modern_spark import Validator
    from json_schema_modern_spark.compiler.column_compiler import (
        CompileOptions, compile_spec,
    )
    from json_schema_modern_spark.operators.drift import drift_violations, ks_drift
    from json_schema_modern_spark.operators.referential import referential_violations
    from json_schema_modern_spark.operators.stats import column_stats, numeric_histogram
    from json_schema_modern_spark.operators.uniqueness import uniqueness_violations
    from json_schema_modern_spark.sources.sequences import (
        TOKEN_SCHEMA, read_token_table, source_dict_df,
    )

    spark, wl = bench.spark, bench.workload
    tr = Tracer(spark)
    facts: dict = {}
    spec = bench.spec
    data = os.path.join(bench.input, "data")
    is_json = wl == "json-hybrid"

    # -- the production path, one traced call each -------------------------
    out = bench.fresh_output()
    try:
        _, first = tr.span("pipeline.ckpt", lambda: bench.cli(out, resume=False))
        facts["output_files"] = sum(
            1 for _, _, files in os.walk(out) for f in files
            if f.endswith(".parquet"))
        bench.check_output(out, first)
        written = bench.written_rows(out)
        _, again = tr.span("pipeline.resume", lambda: bench.cli(out, resume=True))
        bench.check_resume(again, first)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    _, digest = tr.span("pipeline.inmem", bench.inmemory)
    bench.check(digest == written, f"checkpointed rows {written} != in-memory rows {digest}")

    # -- compiler --------------------------------------------------------------
    facts["compile_s"] = _median_time(bench.compile)
    facts["deep_compile_s"] = _median_time(
        lambda: compile_spec(DEEP_SPEC, TOKEN_SCHEMA, CompileOptions(), None))

    # -- the workload's table, as each layer reads it --------------------------
    sd = source_dict_df(spark)
    if is_json:
        df = spark.read.parquet(data)
        id_col, value_col = "event_id", "n_chars"
        df = df.withColumn(value_col, F.length("payload"))
        jdf, json_col = df, "payload"
        tr.span("sources.scan", lambda: df.agg(F.max(value_col)).collect())
        v = Validator(spec)
        tr.span("validator.row_pass", lambda: _noop(v.validate_json_strings(
            df, json_col, id_cols=[id_col], tier="columns").annotated))
        viols = v.validate_json_strings(df, json_col, id_cols=[id_col],
                                        tier="hybrid").violations
    else:
        df = read_token_table(spark, data)
        id_col, value_col = "doc_id", "n_tok"
        jdf = df.filter(F.pmod(F.xxhash64("doc_id"), F.lit(JSON_SAMPLE_MOD)) == 0) \
            .select(F.col("doc_id").alias("row_id"),
                    F.to_json(F.struct("doc_id", "tokens", "n_tok", "source")).alias("doc"))
        json_col = "doc"
        tr.span("sources.scan", lambda: df.agg(
            F.min(F.array_min("tokens")), F.max(F.array_max("tokens"))).collect())
        v = Validator(spec, CompileOptions(assume_dense_arrays=True))
        tr.span("validator.row_pass",
                lambda: _noop(v.validate(df, id_cols=[id_col]).annotated))
        viols = v.validate(df, id_cols=[id_col]).violations
    tr.span("validator.violations", lambda: _noop(viols))
    facts["violation_rows"] = viols.count()

    # -- operators ---------------------------------------------------------------
    tr.span("uniqueness", lambda: _noop(uniqueness_violations(df, [id_col])))
    tr.span("referential", lambda: _noop(referential_violations(
        df, "source", sd, "source", id_col=id_col)))
    tr.span("drift", lambda: _noop(drift_violations(
        ks_drift(df, value_col, "source", 0.0, 2048.0, 256), "source", value_col)))
    stat_cols = [c for c in df.columns if c not in ("tokens", "payload")]
    tr.span("stats", lambda: column_stats(df, stat_cols).collect())
    tr.span("stats.histogram", lambda: numeric_histogram(
        df, value_col, 0.0, 2048.0, 32).collect())

    # -- JSON tiers and the python evaluator ----------------------------------
    jid = jdf.columns[0]
    for tier in ("python", "columns", "hybrid"):
        tr.span(f"json.{tier}", lambda tier=tier: _noop(v.validate_json_strings(
            jdf, json_col, id_cols=[jid], tier=tier).annotated))
    facts["docs_per_s_core"] = _pyeval_rate(jdf, json_col, spec, is_json)
    return tr.spans, facts


def _pyeval_rate(jdf, json_col: str, spec: dict, is_json: bool) -> float:
    """Documents per second of one driver-side ``PyEvaluator`` over a fixed
    sample of the workload's documents (parsing excluded)."""
    from json_schema_modern_spark.pyeval.full import PyEvaluator

    n = PYEVAL_DOCS["json" if is_json else "tokens"]
    id_col = jdf.columns[0]
    docs = [json.loads(r[json_col]) for r in
            jdf.orderBy(id_col).select(id_col, json_col).limit(n).collect()]
    ev = PyEvaluator(validate_formats=False)
    root = ev.add_schema(spec)
    for d in docs[:20]:
        ev.evaluate_uri(root, d)
    t = time.perf_counter()
    for d in docs:
        ev.evaluate_uri(root, d)
    return len(docs) / (time.perf_counter() - t)


def layer_metrics(spans: dict, facts: dict, counts: dict, rows: int,
                  session_start: float) -> dict:
    """Build the per-layer metric block from spans, facts and event-log
    counts (``eventlog.parse_dir``)."""
    from eventlog import LayerCounts

    def c(name: str) -> LayerCounts:
        return counts.get(name, LayerCounts())

    ck = c("pipeline.ckpt")
    m = {
        "session.start_s": (session_start, "s"),
        "compiler.compile_s": (facts["compile_s"], "s"),
        "compiler.deep_compile_s": (facts["deep_compile_s"], "s"),
        "sources.scan_s": (spans["sources.scan"], "s"),
        "validator.row_pass_s": (spans["validator.row_pass"], "s"),
        "validator.violations_s": (spans["validator.violations"], "s"),
        "validator.violation_rows": (facts["violation_rows"], "count"),
        "uniqueness.s": (spans["uniqueness"], "s"),
        "uniqueness.shuffle_write_bytes": (c("uniqueness").shuffle_write_bytes, "bytes"),
        "referential.s": (spans["referential"], "s"),
        "drift.s": (spans["drift"], "s"),
        "drift.input_records": (c("drift").input_records, "count"),
        "stats.s": (spans["stats"], "s"),
        "stats.histogram_s": (spans["stats.histogram"], "s"),
        "pipeline.ckpt_s": (spans["pipeline.ckpt"], "s"),
        "pipeline.resume_s": (spans["pipeline.resume"], "s"),
        "pipeline.inmem_s": (spans["pipeline.inmem"], "s"),
        "pipeline.ckpt_over_inmem": (spans["pipeline.ckpt"] / spans["pipeline.inmem"], "ratio"),
        "pipeline.scans_per_row": (ck.input_records / rows, "ratio"),
        "pipeline.resume_input_records": (c("pipeline.resume").input_records, "count"),
        "pipeline.jobs": (ck.jobs, "count"),
        "pipeline.tasks": (ck.tasks, "count"),
        "pipeline.output_files": (facts["output_files"], "count"),
        "pipeline.output_bytes": (ck.output_bytes, "bytes"),
        "pipeline.shuffle_write_bytes": (ck.shuffle_write_bytes, "bytes"),
        "pipeline.spill_bytes": (ck.spill_bytes, "bytes"),
        "pipeline.task_skew": (ck.task_skew, "ratio"),
        "pipeline.gc_s": (ck.gc_ms / 1000.0, "s"),
        "pyeval.docs_per_s_core": (facts["docs_per_s_core"], "docs/s"),
        "json.python_tier_s": (spans["json.python"], "s"),
        "json.columns_tier_s": (spans["json.columns"], "s"),
        "json.hybrid_s": (spans["json.hybrid"], "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
