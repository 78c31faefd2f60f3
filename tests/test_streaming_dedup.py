"""Stateful streaming first-seen dedup (applyInPandasWithState)."""

import time

import pytest
from pyspark.sql import functions as F

from json_schema_modern_spark.streaming.dedup_stream import dedup_stream


def _run_stream(spark, src_dir, ckpt, name, max_files=None):
    schema = "doc_id bigint, text string"
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    stream = reader.parquet(src_dir)
    q = (dedup_stream(stream).writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def _stop_when_drained(q, n_rows, timeout=120):
    """Stop an availableNow query over ``dedup_stream_ttl`` once it has read
    all ``n_rows`` input rows and a later batch has run.  Such a query never
    ends by itself: with a processing-time timeout Spark runs another
    (no-data) batch after every batch, to expire state, so the trigger never
    sees the input drained — and ``processAllAvailable`` never returns
    either, as every loop constructs a batch."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        progress = q.recentProgress
        if (sum(p["numInputRows"] for p in progress) >= n_rows
                and progress[-1]["numInputRows"] == 0):
            break
        time.sleep(0.2)
    q.stop()
    assert not q.isActive


def test_first_seen_dedup_across_batches(spark, tmp_path):
    """Two files forced into separate micro-batches: a fingerprint seen in
    batch 1 is suppressed in batch 2; the within-batch winner is the min
    doc id."""
    src = tmp_path / "src"
    # batch A: two dups of 'hello world' (ids 2, 5) + unique 'alpha'
    spark.createDataFrame(
        [(5, "Hello, WORLD!"), (2, "hello world"), (3, "alpha")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(src / "a"))
    # batch B: another 'hello world' (id 9, must be suppressed) + 'beta'
    spark.createDataFrame(
        [(9, "hello   world"), (7, "beta")], "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(src / "b"))

    out = _run_stream(spark, str(src / "*"), str(tmp_path / "ckpt"),
                      "dedup_two_batches", max_files=1)
    rows = {r.keep_id: r.n_docs for r in out.collect()}
    # 'hello world' emitted exactly once, keeping the min id of its FIRST
    # batch; 'alpha' and 'beta' each once
    assert 3 in rows and 7 in rows
    assert 2 in rows or 9 in rows
    assert 9 not in rows, "duplicate fingerprint re-emitted in a later batch"
    assert rows[2] == 2          # both batch-A occurrences counted
    assert len(rows) == 3


def test_single_batch_matches_groupby(spark, tmp_path):
    """availableNow over one file ≡ the batch GROUP BY (the oracle used by
    the driver's streaming_dedup correctness row)."""
    src = tmp_path / "one"
    df = spark.createDataFrame(
        [(1, "x y z"), (4, "X--Y--Z"), (2, "unique doc")],
        "doc_id bigint, text string")
    df.coalesce(1).write.parquet(str(src))
    out = _run_stream(spark, str(src), str(tmp_path / "ck2"), "dedup_one")
    got = {(r.keep_id, r.n_docs) for r in out.collect()}
    assert got == {(1, 2), (2, 1)}


def test_ttl_dedup_window_expiry(spark, tmp_path):
    """TTL variant: a fingerprint recurring within ttl_ms is suppressed;
    recurring after the gap re-emits as a new window (event-driven on
    ts_col, so the assertion is deterministic)."""
    from json_schema_modern_spark.streaming.dedup_stream import dedup_stream_ttl

    src = tmp_path / "ttl_src"
    schema = "doc_id bigint, text string, ts bigint"
    # batch A (t=0): 'hello world' twice + 'alpha'
    spark.createDataFrame(
        [(2, "hello world", 0), (5, "Hello, WORLD!", 0), (3, "alpha", 0)],
        schema).coalesce(1).write.parquet(str(src / "a"))
    # batch B: 'hello world' at t=10s (> ttl 5s → NEW window, re-emitted);
    # 'alpha' at t=3s (< ttl → suppressed)
    spark.createDataFrame(
        [(9, "hello   world", 10_000), (8, "alpha", 3_000)],
        schema).coalesce(1).write.parquet(str(src / "b"))

    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
    q = (dedup_stream_ttl(reader.parquet(str(src / "*")), ttl_ms=5_000)
         .writeStream.format("memory").queryName("dedup_ttl")
         .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
         .trigger(availableNow=True).start())
    _stop_when_drained(q, 5)
    got = {(r.keep_id, r.n_docs, r.window_start_ms)
           for r in spark.table("dedup_ttl").collect()}
    assert (2, 2, 0) in got          # window 1: both t=0 occurrences
    assert (9, 1, 10_000) in got     # gap 10s > ttl → second window
    assert (3, 1, 0) in got          # alpha window 1
    assert not any(k == 8 for k, _, _ in got), "within-ttl dup re-emitted"
    assert len(got) == 3


def test_ttl_dedup_window_start_is_first_occurrence(spark, tmp_path):
    """An opening batch with mixed timestamps must report the MIN ts as
    window_start_ms (the first occurrence), and keep_id = min doc id —
    regression: the opening batch's max ts was emitted instead."""
    from json_schema_modern_spark.streaming.dedup_stream import dedup_stream_ttl

    src = tmp_path / "ttl_src2"
    schema = "doc_id bigint, text string, ts bigint"
    spark.createDataFrame(
        [(7, "mixed ts doc", 4_000), (4, "Mixed  TS  doc!", 1_000)],
        schema).coalesce(1).write.parquet(str(src / "a"))
    q = (dedup_stream_ttl(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            ttl_ms=60_000)
         .writeStream.format("memory").queryName("dedup_ttl2")
         .option("checkpointLocation", str(tmp_path / "ttl_ckpt2"))
         .trigger(availableNow=True).start())
    _stop_when_drained(q, 2)
    rows = spark.table("dedup_ttl2").collect()
    assert len(rows) == 1
    assert (rows[0].keep_id, rows[0].n_docs, rows[0].window_start_ms) \
        == (4, 2, 1_000)
