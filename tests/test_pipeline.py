"""ValidationPipeline: end-to-end pass tower + checkpoint/resume lineage
(SURVEY.md §7.5 — no reference analogue; the data-plane extension of the
reference's evaluator-serialization caching, Modern.pm:1259-1279)."""

import os

import pytest
from pyspark.sql import functions as F

from json_schema_modern_spark.plans.pipeline import ValidationPipeline
from json_schema_modern_spark.sources.sequences import sequences_df, source_dict_df

SPEC = {
    "$id": "https://example.org/specs/token-sequences",
    "type": "object",
    "required": ["doc_id", "tokens", "n_tok", "source"],
    "properties": {
        "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
        "tokens": {"type": "array", "minItems": 1, "maxItems": 2048,
                   "items": {"type": "integer", "minimum": 0, "maximum": 50256}},
        "n_tok": {"type": "integer", "minimum": 1, "maximum": 2048},
        "source": {"enum": ["web", "books", "code", "wiki", "forums"]},
    },
    "x-unique": ["doc_id"],
    "x-ref": {"source": "source_dict.source"},
    "x-drift": {"n_tok": {"per": "source", "test": "ks", "alpha": 0.01}},
}


@pytest.fixture(scope="module")
def corrupt(spark):
    return sequences_df(spark, 4000, seed=42, corrupt=True).cache()


def test_inmemory_full_tower(spark, corrupt):
    pipe = ValidationPipeline(SPEC, drift_hi=2048.0, drift_bins=128)
    res = pipe.run(spark, corrupt, source_dict=source_dict_df(spark))
    kw = {r.keyword for r in res.violations.select("keyword").distinct().collect()}
    # injected corruptions (sequences._corrupt buckets) must surface:
    assert "maximum" in kw        # bad_token 99999 > 50256
    assert "minimum" in kw        # neg_token -1
    assert "x-unique" in kw       # dup bucket
    assert "x-ref" in kw          # unknown_source 'smuggled'
    assert "required" in kw       # null source
    # stats cover the non-token columns
    stats = {r.column for r in res.stats.collect()}
    assert stats == {"doc_id", "n_tok", "source"}
    # partition rollup accounts every row exactly once
    pr = res.partition_results
    total = pr.agg(F.sum("doc_count")).first()[0]
    assert total == corrupt.count()


def test_checkpoint_resume(spark, corrupt, tmp_path):
    wd = str(tmp_path / "ckpt")
    pipe = ValidationPipeline(SPEC, workdir=wd, n_buckets=8)
    sd = source_dict_df(spark)

    r1 = pipe.run(spark, corrupt, source_dict=sd, snapshot_id="snapA")
    assert r1.buckets_done == 8 and r1.buckets_skipped == 0
    n1 = r1.violations.count()
    assert n1 > 0
    assert os.path.exists(os.path.join(wd, "run_manifest.json"))

    # second run over the same (snapshot, spec) resumes: nothing recomputed
    r2 = pipe.run(spark, corrupt, source_dict=sd, snapshot_id="snapA")
    assert r2.buckets_done == 0 and r2.buckets_skipped == 8
    assert r2.violations.count() == n1

    # a new snapshot id is a new run: all buckets pending again
    r3 = pipe.run(spark, corrupt, source_dict=sd, snapshot_id="snapB")
    assert r3.buckets_done == 8
    assert r3.violations.count() == n1


def test_metrics_tables_persisted(spark, corrupt, tmp_path):
    """north rule: per-partition lineage + metrics tables on disk."""
    wd = str(tmp_path / "m")
    pipe = ValidationPipeline(SPEC, workdir=wd, n_buckets=4)
    pipe.run(spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s1")
    for name in ("violations", "lineage", "stats", "histogram",
                 "partition_results", "violation_counts", "run_manifest.json"):
        assert os.path.exists(os.path.join(wd, name)), name
    vc = spark.read.parquet(os.path.join(wd, "violation_counts"))
    rollup = {r.keyword: r.n_violations for r in vc.collect()}
    assert rollup.get("x-unique", 0) > 0 and rollup.get("x-ref", 0) > 0
    stats = spark.read.parquet(os.path.join(wd, "stats"))
    assert {r.column for r in stats.collect()} == {"doc_id", "n_tok", "source"}
    pr = spark.read.parquet(os.path.join(wd, "partition_results"))
    assert pr.count() == 4 and pr.filter("NOT valid").count() > 0


def test_sortmerge_ref_strategy(spark, corrupt):
    """x-ref dict form selects the salted sort-merge join path (large-dim
    referential; explicit skew salting on the join key)."""
    spec = dict(SPEC)
    spec["x-ref"] = {"source": {"target": "source_dict.source",
                                "strategy": "sortmerge"}}
    pipe = ValidationPipeline(spec, drift_hi=2048.0, drift_bins=64)
    res = pipe.run(spark, corrupt, source_dict=source_dict_df(spark))
    smj = res.violations.filter(F.col("keyword") == "x-ref")
    # broadcast-path result must match exactly
    pipe_b = ValidationPipeline(SPEC, drift_hi=2048.0, drift_bins=64)
    bc = pipe_b.run(spark, corrupt, source_dict=source_dict_df(spark)) \
        .violations.filter(F.col("keyword") == "x-ref")
    assert smj.count() == bc.count() > 0
    a = {(r.doc_id, r.offending_value) for r in smj.collect()}
    b = {(r.doc_id, r.offending_value) for r in bc.collect()}
    assert a == b


def test_non_id_uniqueness_runs_global(spark, corrupt, tmp_path):
    """x-unique on a NON-id column is not bucket-complete (rows bucket by
    hash(id_col)) — it must run in the global bucket=-1 pass so a resumed
    run can never miss cross-bucket duplicates."""
    spec = dict(SPEC)
    spec["x-unique"] = ["n_tok"]          # heavily duplicated across buckets
    wd = str(tmp_path / "nid")
    pipe = ValidationPipeline(spec, workdir=wd, n_buckets=8)
    res = pipe.run(spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s")
    uv = res.violations.filter(F.col("keyword") == "x-unique")
    assert uv.count() > 0
    assert {r.bucket for r in uv.select("bucket").distinct().collect()} == {-1}
    # in-memory path agrees on the duplicate-key set
    mem = ValidationPipeline(spec).run(spark, corrupt, source_dict=source_dict_df(spark))
    assert mem.violations.filter(F.col("keyword") == "x-unique").count() == uv.count()


def test_changed_spec_no_stale_violations(spark, tmp_path):
    """Re-running a workdir under a NEW spec fingerprint must not surface
    the old spec's violations (fp-partitioned isolation + explicit
    pending-partition cleanup), and a clean run reads back as empty."""
    from json_schema_modern_spark.sources.sequences import sequences_df

    clean = sequences_df(spark, 500, seed=7)
    wd = str(tmp_path / "fp")
    strict = {"type": "object", "properties": {"n_tok": {"maximum": 1}}}
    r1 = ValidationPipeline(strict, workdir=wd, n_buckets=4) \
        .run(spark, clean, snapshot_id="s")
    assert r1.violations.count() > 0
    lax = {"type": "object", "properties": {"n_tok": {"minimum": 0}}}
    r2 = ValidationPipeline(lax, workdir=wd, n_buckets=4) \
        .run(spark, clean, snapshot_id="s")
    assert r2.violations.count() == 0


def test_bucket_unit_is_doc_id_hash(spark, corrupt, tmp_path):
    """Duplicate doc_ids land in one bucket — per-bucket uniqueness is
    globally complete (the pipeline's restart-unit invariant)."""
    pipe = ValidationPipeline(SPEC, workdir=str(tmp_path / "b"), n_buckets=8)
    res = pipe.run(spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s")
    dup_viols = res.violations.filter(F.col("keyword") == "x-unique")
    # every duplicated doc_id appears exactly once (one violation per key)
    per_key = dup_viols.groupBy("doc_id").count().filter("count > 1")
    assert per_key.count() == 0
    assert dup_viols.count() > 0


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_checkpointed_tables_match_inmemory(spark, corrupt, tmp_path):
    """The checkpointed run derives partition_results, violation_counts and
    the histogram from two count aggregates instead of re-scanning; they
    must equal the in-memory tower's directly computed tables, and a resume
    that recomputes no bucket must reproduce them from lineage + disk."""
    sd = source_dict_df(spark)
    mem = ValidationPipeline(SPEC, n_buckets=8).run(spark, corrupt, source_dict=sd)
    wd = str(tmp_path / "eq")
    ck = ValidationPipeline(SPEC, workdir=wd, n_buckets=8).run(
        spark, corrupt, source_dict=sd, snapshot_id="s")
    want = {name: _rows(getattr(mem, name)) for name in
            ("partition_results", "violation_counts", "stats", "histogram")}
    assert want["violation_counts"] and want["partition_results"]
    for name, rows in want.items():
        assert _rows(getattr(ck, name)) == rows, name
    assert ck.counts["violations"] == mem.violations.count() == ck.violations.count()

    again = ValidationPipeline(SPEC, workdir=wd, n_buckets=8).run(
        spark, corrupt, source_dict=sd, snapshot_id="s")
    assert again.buckets_done == 0 and again.buckets_skipped == 8
    for name in ("partition_results", "violation_counts", "stats"):
        assert _rows(spark.read.parquet(os.path.join(wd, name))) == want[name], name
    assert again.counts == ck.counts


def test_lineage_counts_are_real(spark, corrupt, tmp_path):
    """Lineage rows carry per-bucket doc and violation counts: the buckets'
    doc counts sum to the input, and all error counts sum to the
    per-keyword rollup — bucket -1 holding the global pass's (here the
    non-id uniqueness check's) violations."""
    spec = dict(SPEC, **{"x-unique": ["n_tok"]})
    wd = str(tmp_path / "lin")
    res = ValidationPipeline(spec, workdir=wd, n_buckets=8).run(
        spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s")
    lin = spark.read.parquet(os.path.join(wd, "lineage")).collect()
    assert sorted(r.bucket for r in lin) == list(range(-1, 8))
    assert sum(r.doc_count for r in lin) == corrupt.count()
    vc = spark.read.parquet(os.path.join(wd, "violation_counts"))
    assert sum(r.error_count for r in lin) \
        == vc.agg(F.sum("n_violations")).first()[0] > 0
    per_bucket = {r.bucket: r["count"] for r in
                  res.violations.groupBy("bucket").count().collect()}
    assert {r.bucket: r.error_count for r in lin if r.error_count} == per_bucket
    assert per_bucket[-1] > 0


def test_resumes_spark_written_lineage(spark, corrupt, tmp_path):
    """Workdirs whose lineage Spark wrote (NULL error_count, _SUCCESS and
    .crc side files) still resume: the driver-side reader skips nothing."""
    import shutil

    from json_schema_modern_spark.plans.pipeline import LINEAGE_SCHEMA

    wd = str(tmp_path / "old")
    sd = source_dict_df(spark)
    pipe = ValidationPipeline(SPEC, workdir=wd, n_buckets=4)
    first = pipe.run(spark, corrupt, source_dict=sd, snapshot_id="s")
    lin_path = os.path.join(wd, "lineage")
    old = [(r.run_id, r.snapshot_id, r.spec_fingerprint, r.bucket, r.status,
            r.doc_count, None, r.updated_at)
           for r in spark.read.parquet(lin_path).collect()]
    shutil.rmtree(lin_path)
    spark.createDataFrame(old, LINEAGE_SCHEMA).coalesce(1).write.parquet(lin_path)
    again = pipe.run(spark, corrupt, source_dict=sd, snapshot_id="s")
    assert again.buckets_done == 0 and again.buckets_skipped == 4
    assert again.counts == first.counts
