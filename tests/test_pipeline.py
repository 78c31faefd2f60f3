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
    the old spec's violations (each fingerprint reads only its own wave
    directories), and a clean run reads back as empty."""
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


def _files(wd):
    """path → bytes of every file under ``wd``."""
    out = {}
    for d, _, names in os.walk(wd):
        for name in names:
            with open(os.path.join(d, name), "rb") as f:
                out[os.path.relpath(os.path.join(d, name), wd)] = f.read()
    return out


def test_refuses_workdir_of_another_layout(spark, corrupt, tmp_path):
    """A workdir whose manifest records no layout 2 (one written before
    the layout was numbered) is refused by a run, whatever ``resume``
    says, and by ``resume_from``; every file in it stays as it was."""
    import json
    import re

    wd = str(tmp_path / "old")
    sd = source_dict_df(spark)
    pipe = ValidationPipeline(SPEC, workdir=wd, n_buckets=4)
    pipe.run(spark, corrupt, source_dict=sd, snapshot_id="s")
    path = os.path.join(wd, "run_manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest.pop("layout", None)
    with open(path, "w") as f:
        json.dump(manifest, f)
    before = _files(wd)
    for refused in (
            lambda: pipe.run(spark, corrupt, source_dict=sd, snapshot_id="s", resume=True),
            lambda: pipe.run(spark, corrupt, source_dict=sd, snapshot_id="s", resume=False),
            lambda: ValidationPipeline.resume_from(wd)):
        with pytest.raises(ValueError, match=re.escape(wd) + ".*delete the workdir"):
            refused()
        assert _files(wd) == before


# -- waves: the restart unit of a checkpointed run ---------------------------

def _viol_rows(df):
    from json_schema_modern_spark.plans.pipeline import VIOL_COLS

    return sorted(tuple(r) for r in df.select(*VIOL_COLS, "bucket").collect())


def _lineage(wd):
    import pyarrow.parquet as pq

    p = os.path.join(wd, "lineage")
    return pq.read_table(p).to_pylist() if os.path.isdir(p) else []


def _fp_dir(wd):
    import json

    with open(os.path.join(wd, "run_manifest.json")) as f:
        fp = json.load(f)["spec_fingerprint"]
    return os.path.join(wd, "violations", f"fp={fp}")


def _live_waves(wd):
    latest = {}
    for r in sorted(_lineage(wd), key=lambda r: r["updated_at"]):
        latest[(r["snapshot_id"], r["bucket"])] = r["run_id"]
    return set(latest.values())


@pytest.mark.parametrize("prior,after,mid_write", [
    (False, 0, True), (False, 1, False), (True, 0, True), (True, 1, False)])
def test_crash_resume_reruns_only_unfinished_waves(
        spark, corrupt, tmp_path, monkeypatch, prior, after, mid_write):
    """A run whose wave ``after`` fails (wave 0 holds the buckets, wave 1
    is the global pass) — before it writes, or after part of its rows are
    on disk — resumes into the violations of an uninterrupted run,
    re-running only the waves that had not committed.  With ``prior`` the
    workdir holds a finished run and the failing run is a ``resume=False``
    one: the old run's waves stay on disk next to the new ones, and no
    bucket may be read from both."""
    from pyspark.sql.readwriter import DataFrameWriter

    sd = source_dict_df(spark)
    want = ValidationPipeline(SPEC, workdir=str(tmp_path / "ref"), n_buckets=4).run(
        spark, corrupt, source_dict=sd, snapshot_id="s")
    wd = str(tmp_path / "crash")
    if prior:
        ValidationPipeline(SPEC, workdir=wd, n_buckets=4).run(
            spark, corrupt, source_dict=sd, snapshot_id="s")
    before = _lineage(wd) if prior else []
    from json_schema_modern_spark.plans import pipeline

    orig = DataFrameWriter.parquet
    orig_driver = pipeline._write_driver_table
    waves = []

    def failing_parquet(self, path, *args, **kwargs):
        if "wave=" in path:
            waves.append(path)
            if len(waves) > after:
                if mid_write:
                    orig(self._df.limit(3).write, path)
                raise RuntimeError("injected wave failure")
        return orig(self, path, *args, **kwargs)

    def failing_driver_write(path, *args, **kwargs):
        # the global wave holds only drift rows here: the driver writes it
        if "wave=" in path:
            waves.append(path)
            if len(waves) > after:
                raise RuntimeError("injected wave failure")
        return orig_driver(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", failing_parquet)
        m.setattr(pipeline, "_write_driver_table", failing_driver_write)
        with pytest.raises(RuntimeError, match="injected wave failure"):
            ValidationPipeline(SPEC, workdir=wd, n_buckets=4).run(
                spark, corrupt, source_dict=sd, snapshot_id="s", resume=not prior)
    committed = [r["bucket"] for r in _lineage(wd) if r not in before]
    assert sorted(committed) == ([] if after == 0 else [0, 1, 2, 3])
    assert os.path.isdir(waves[-1]) == mid_write

    res = ValidationPipeline(SPEC, workdir=wd, n_buckets=4).run(
        spark, corrupt, source_dict=sd, snapshot_id="s")
    rerun = {r["bucket"] for r in _lineage(wd) if r["run_id"].startswith(res.run_id)}
    if prior:          # every bucket and the global pass have a live wave
        assert res.buckets_done == 0 and rerun == set()
    else:
        assert res.buckets_done == (4 if after == 0 else 0)
        assert rerun == ({0, 1, 2, 3, -1} if after == 0 else {-1})
    assert _viol_rows(res.violations) == _viol_rows(want.violations)
    assert res.counts == want.counts
    assert not os.path.exists(waves[-1])     # the failed wave is gone
    assert set(os.listdir(_fp_dir(wd))) == {f"wave={w}" for w in _live_waves(wd)}


def test_resume_under_another_bucket_count(spark, corrupt, tmp_path):
    """A bucket id names rows only under the bucket count that hashed
    them: a resume with another count redoes every bucket and reads none
    of the other count's waves, which stay live for a run with their own
    count."""
    sd = source_dict_df(spark)
    want = ValidationPipeline(SPEC, workdir=str(tmp_path / "fresh"), n_buckets=8).run(
        spark, corrupt, source_dict=sd, snapshot_id="s")
    wd = str(tmp_path / "wd")
    four = ValidationPipeline(SPEC, workdir=wd, n_buckets=4).run(
        spark, corrupt, source_dict=sd, snapshot_id="s")
    four_rows = _viol_rows(four.violations)
    res = ValidationPipeline(SPEC, workdir=wd, n_buckets=8).run(
        spark, corrupt, source_dict=sd, snapshot_id="s", resume=True)
    assert res.buckets_done == 8
    assert _viol_rows(res.violations) == _viol_rows(want.violations)
    assert res.counts == want.counts
    again = ValidationPipeline(SPEC, workdir=wd, n_buckets=4).run(
        spark, corrupt, source_dict=sd, snapshot_id="s")
    assert again.buckets_done == 0 and again.counts == four.counts
    assert _viol_rows(again.violations) == four_rows


def test_orphan_wave_deleted_and_never_read(spark, corrupt, tmp_path):
    import shutil

    sd = source_dict_df(spark)
    wd = str(tmp_path / "orphan")
    pipe = ValidationPipeline(SPEC, workdir=wd, n_buckets=4)
    first = pipe.run(spark, corrupt, source_dict=sd, snapshot_id="s")
    fp_dir = _fp_dir(wd)
    live = next(d for d in os.listdir(fp_dir) if not d.endswith("-g"))
    orphan = os.path.join(fp_dir, "wave=0123456789ab-0")
    shutil.copytree(os.path.join(fp_dir, live), orphan)   # would double the rows
    again = pipe.run(spark, corrupt, source_dict=sd, snapshot_id="s")
    assert again.buckets_done == 0 and not os.path.exists(orphan)
    assert again.counts == first.counts
    assert _viol_rows(again.violations) == _viol_rows(first.violations)


def test_violation_files_do_not_grow_with_buckets(spark, corrupt, tmp_path):
    def files(n_buckets):
        wd = str(tmp_path / f"b{n_buckets}")
        ValidationPipeline(SPEC, workdir=wd, n_buckets=n_buckets).run(
            spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s")
        return sum(f.endswith(".parquet") for _, _, fs in
                   os.walk(os.path.join(wd, "violations")) for f in fs)

    assert files(256) <= files(16)


def test_workdir_claim(spark, corrupt, tmp_path, capsys):
    """A second run on a claimed workdir fails (the CLI exits 2) while the
    claim's pid lives; a claim whose pid is dead, or an empty one, is taken
    over."""
    import json
    import socket
    import subprocess
    import sys

    from json_schema_modern_spark import cli

    wd = str(tmp_path / "claimed")
    os.makedirs(wd)
    claim = os.path.join(wd, ".claim")

    def hold(pid):
        with open(claim, "w") as f:
            json.dump({"run_id": "other", "pid": pid, "host": socket.gethostname()}, f)

    hold(os.getpid())
    pipe = ValidationPipeline(SPEC, workdir=wd, n_buckets=4)
    with pytest.raises(RuntimeError, match="claimed by run other"):
        pipe.run(spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s")
    table, spec_path = str(tmp_path / "t"), str(tmp_path / "spec.json")
    corrupt.write.parquet(table)
    with open(spec_path, "w") as f:
        json.dump({"type": "object"}, f)
    assert cli.main(["--spec", spec_path, "--table", table, "--output", wd]) == 2
    assert "claimed by run other" in json.loads(capsys.readouterr().out)["exception"]
    assert os.path.exists(claim)          # a refused run leaves the claim

    dead = subprocess.Popen([sys.executable, "-c", ""])
    dead.wait()
    hold(dead.pid)
    res = pipe.run(spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s")
    assert res.buckets_done == 4 and not os.path.exists(claim)

    open(claim, "w").close()        # content that does not parse is no claim
    res = pipe.run(spark, corrupt, source_dict=source_dict_df(spark), snapshot_id="s")
    assert res.buckets_done == 0 and not os.path.exists(claim)
    assert not [f for f in os.listdir(wd) if f.startswith(".claim")]


# -- the columns the passes add are not instance properties -----------------

@pytest.mark.parametrize("keyword", [
    {"additionalProperties": False}, {"unevaluatedProperties": False},
    {"maxProperties": 4}, {"propertyNames": {"pattern": "^[a-z]"}}])
def test_added_columns_are_not_properties(spark, tmp_path, capsys, keyword):
    """The plan compiles for the input's own columns: the ``_bucket`` column
    and the x-ref lookup column the run evaluates over are no properties of
    a row, so object keywords on valid rows give no violation — in memory,
    checkpointed and through the CLI."""
    import json

    from json_schema_modern_spark import Validator, cli

    spec = {k: v for k, v in SPEC.items() if k not in ("x-unique", "x-drift")}
    spec.update(keyword)
    rows = sequences_df(spark, 2, seed=7)
    sd = source_dict_df(spark)
    assert Validator(spec).validate(rows).violations.count() == 0
    assert ValidationPipeline(spec, n_buckets=4).run(
        spark, rows, source_dict=sd).violations.count() == 0
    ck = ValidationPipeline(spec, workdir=str(tmp_path / "ck"), n_buckets=4).run(
        spark, rows, source_dict=sd, snapshot_id="s")
    assert ck.counts["violations"] == ck.violations.count() == 0

    table, sd_path, spec_path = (str(tmp_path / n) for n in ("t", "sd", "spec.json"))
    rows.write.parquet(table)
    sd.write.parquet(sd_path)
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    capsys.readouterr()
    assert cli.main(["--spec", spec_path, "--table", table, "--source-dict", sd_path,
                     "--output", str(tmp_path / "out"), "--n-buckets", "4"]) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["violations"] == 0


def test_ref_lookup_matches_anti_join(spark, tmp_path):
    """The broadcast x-ref check is a lookup column of the row pass; with
    NULL and unknown fact keys and a dictionary holding NULL and duplicate
    entries it flags exactly the rows ``referential_violations`` (the anti
    join) flags — NULL keys are not violations, nothing is duplicated —
    in memory and checkpointed."""
    from json_schema_modern_spark.operators.referential import referential_violations
    from json_schema_modern_spark.plans.pipeline import VIOL_COLS

    spec = {"type": "object", "x-ref": {"source": "source_dict.source"}}
    facts = spark.createDataFrame(
        [(f"d{i}", s) for i, s in enumerate(
            ["web", "web", None, "smuggled", "books", None, "smuggled", "code", "zz"])],
        "doc_id string, source string")
    dim = spark.createDataFrame([("web",), ("web",), (None,), ("books",), ("code",),
                                 ("code",), (None,)], "source string")
    want = sorted(tuple(r) for r in referential_violations(
        facts, "source", dim, "source").select(*VIOL_COLS).collect())
    assert sorted(r[-1] for r in want) == ["smuggled", "smuggled", "zz"]

    mem = ValidationPipeline(spec, n_buckets=4).run(spark, facts, source_dict=dim)
    assert sorted(tuple(r) for r in mem.violations.select(*VIOL_COLS).collect()) == want
    ck = ValidationPipeline(spec, workdir=str(tmp_path / "ck"), n_buckets=4).run(
        spark, facts, source_dict=dim, snapshot_id="s")
    assert sorted(tuple(r) for r in ck.violations.select(*VIOL_COLS).collect()) == want
