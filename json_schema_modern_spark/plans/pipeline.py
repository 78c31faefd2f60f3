"""End-to-end validation pipeline: spec + token table → violations,
per-partition results, metrics — resumable from checkpoint with
per-partition lineage.

This is the data-plane analogue of the reference's evaluate() lifecycle
(/root/reference/lib/JSON/Schema/Modern.pm:383-489): compile once on the
driver (traverse phase), broadcast the compiled plan implicitly through the
DataFrame closures, run whole-column passes, assemble a Result.  The
resumability design follows SURVEY.md §7.5 — no reference analogue; the
closest idea is the reference's serialization caching of the compiled
evaluator (Modern.pm:1259-1279), applied here to the data plane.

Checkpoint model (works on plain parquet; Iceberg snapshot-pinning slots in
through TableIO when a catalog exists):

- a run is keyed by (snapshot_id, spec fingerprint) — same input + same
  spec ⇒ same run, mirroring the reference's MD5 document dedup
  (Modern.pm:186-197);
- rows are bucketed by ``pmod(xxhash64(doc_id), n_buckets)``; a bucket is
  the unit of restart.  Because the bucket key is a hash of the uniqueness
  key, duplicate doc_ids always land in the same bucket, so the
  uniqueness check is per-bucket-complete — no cross-bucket pass needed;
- violations are written partitioned by bucket with dynamic partition
  overwrite (idempotent re-run of a half-finished bucket);
- global checks that need all rows (KS drift per source) run as a final
  step recorded under bucket = -1;
- after the writes, the written violations are read ONCE, as a
  (bucket, keyword, keyword_location) count, and the input once more, as
  a (bucket, n_tok histogram bin) count.  Every other table derives from
  those two small aggregates: the lineage ``doc_count``/``error_count``,
  ``partition_results``, ``violation_counts``, the histogram, and
  ``PipelineResult.counts`` (the CLI's total) — nothing re-scans the
  input per table or re-reads the violations;
- lineage rows (run_id, snapshot, fingerprint, bucket, status, doc_count,
  error_count) are appended only AFTER the run's violation writes commit.
  They and the count-derived tables are a few hundred rows at most, so
  the driver writes them with pyarrow (one file each, written under a
  hidden name and renamed into place) instead of a Spark job per table;
- resume = read lineage, skip done buckets, process the rest.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_schema_modern_spark.compiler.column_compiler import SetCheck
from json_schema_modern_spark.operators.drift import drift_violations, ks_drift
from json_schema_modern_spark.operators.referential import referential_violations
from json_schema_modern_spark.operators.stats import (
    column_stats, histogram_bin, histogram_edges, numeric_histogram,
)
from json_schema_modern_spark.operators.uniqueness import uniqueness_violations
from json_schema_modern_spark.validator import Validator

VIOL_COLS = [
    "doc_id", "instance_location", "keyword_location",
    "absolute_keyword_location", "keyword", "error", "offending_value",
]
WRITTEN_VIOL_SCHEMA = ", ".join(f"{c} string" for c in VIOL_COLS) + ", bucket int"

LINEAGE_SCHEMA = (
    "run_id string, snapshot_id string, spec_fingerprint string, "
    "bucket int, status string, doc_count long, error_count long, "
    "updated_at double"
)
HISTOGRAM_SCHEMA = "bucket long, lo double, hi double, cnt long"
HISTOGRAM_BINS = 32
PARTITION_RESULTS_SCHEMA = (
    "partition_id int, valid boolean, doc_count long, error_count long")
VIOLATION_COUNTS_SCHEMA = (
    "keyword string, keyword_location string, n_violations long")


@dataclass
class PipelineResult:
    run_id: str
    violations: DataFrame | None      # all violation rows for this run
    stats: DataFrame | None           # column_stats output
    histogram: DataFrame | None       # token-length histogram
    partition_results: DataFrame | None
    violation_counts: DataFrame | None = None
    buckets_done: int = 0
    buckets_skipped: int = 0
    # checkpointed runs: {"violations": total rows}, from the rollup
    counts: dict = field(default_factory=dict)


class ValidationPipeline:
    """Compile a spec once; run the full pass tower over a token table.

    ``workdir=None`` runs everything in-memory (tests / bench); with a
    workdir, per-bucket checkpointing and resume are active.
    """

    def __init__(
        self,
        spec: dict,
        *,
        id_col: str = "doc_id",
        workdir: str | None = None,
        n_buckets: int = 16,
        drift_bins: int = 256,
        drift_hi: float = 2048.0,
        options=None,
        extra_schemas: list | None = None,
    ):
        self.spec = spec
        self.id_col = id_col
        if workdir is not None and "://" in workdir and not workdir.startswith("file://"):
            # checkpoint cleanup + lineage appends use os-level file ops;
            # a remote URI (hdfs://, s3a://) would silently no-op the
            # stale-partition deletes and corrupt resume semantics.
            raise ValueError(
                "workdir must be a local filesystem path (remote URIs are "
                "not supported; point workdir at a shared local mount)")
        self.workdir = workdir[7:] if workdir and workdir.startswith("file://") else workdir
        self.n_buckets = n_buckets
        self.drift_bins = drift_bins
        self.drift_hi = drift_hi
        self.validator = Validator(spec, options, extra_schemas=extra_schemas)

    @classmethod
    def resume_from(cls, workdir: str, *,
                    fingerprint: str | None = None) -> "ValidationPipeline":
        """Rebuild a pipeline from a checkpoint directory WITHOUT the spec
        in hand and WITHOUT re-running the traverse phase: thaws the
        validator persisted by ``run()`` (the reference's serialize→thaw
        evaluator caching, Modern.pm:1259-1279) and restores the run
        geometry from the manifest.  Compiled Column expressions are
        session-bound and re-derive lazily on first validate — the
        analogue of the reference re-adding coderefs after THAW."""
        # same workdir normalization/validation as __init__: strip
        # file://, reject remote URIs explicitly (otherwise the open()
        # below fails with an opaque ENOENT on "hdfs:/..." paths)
        if "://" in workdir and not workdir.startswith("file://"):
            raise ValueError(
                "workdir must be a local filesystem path (remote URIs are "
                "not supported; point workdir at a shared local mount)")
        if workdir.startswith("file://"):
            workdir = workdir[7:]
        with open(os.path.join(workdir, "run_manifest.json")) as f:
            manifest = json.load(f)
        fp = fingerprint or manifest["spec_fingerprint"]
        validator = Validator.load(os.path.join(workdir, f"plan_{fp}.json"))
        pipe = cls.__new__(cls)
        pipe.spec = validator.spec
        pipe.id_col = manifest.get("id_col", "doc_id")
        pipe.workdir = workdir
        pipe.n_buckets = manifest["n_buckets"]
        pipe.drift_bins = manifest.get("drift_bins", 256)
        pipe.drift_hi = manifest.get("drift_hi", 2048.0)
        pipe.validator = validator
        return pipe

    # -- lineage ------------------------------------------------------------

    def _lineage_path(self) -> str:
        return os.path.join(self.workdir, "lineage")

    def done_buckets(self, snapshot_id: str, fingerprint: str) -> set[int]:
        """Buckets whose lineage marks them done for (snapshot, spec)."""
        p = self._lineage_path()
        if not os.path.isdir(p):
            return set()
        rows = pads.dataset(p, schema=_arrow_schema(LINEAGE_SCHEMA), format="parquet") \
            .to_table(columns=["snapshot_id", "spec_fingerprint", "status", "bucket"]) \
            .to_pylist()
        return {r["bucket"] for r in rows
                if (r["snapshot_id"], r["spec_fingerprint"], r["status"])
                == (snapshot_id, fingerprint, "done")}

    # -- per-bucket row-local + bucket-safe set checks ----------------------

    def _bucket_violations(self, bucketed: DataFrame, set_checks: list[SetCheck],
                           source_dict: DataFrame | None) -> DataFrame:
        """All checks that are complete within a hash bucket of doc_id:
        row-local keywords, doc_id uniqueness (hash-colocated), and the
        referential semijoin (row-local w.r.t. the broadcast dictionary)."""
        res = self.validator.validate(bucketed, id_cols=[self.id_col, "_bucket"])
        viols = res.violations.select(
            F.col(self.id_col).cast("string").alias("doc_id"),
            *VIOL_COLS[1:], F.col("_bucket"),
        )
        for check in set_checks:
            extra = self._bucket_set_check(check, bucketed, source_dict)
            if extra is not None:
                viols = viols.unionByName(extra)
        return viols

    def _bucket_set_check(
        self, check: SetCheck, bucketed: DataFrame, source_dict: DataFrame | None
    ) -> DataFrame | None:
        val = check.params["value"]
        if check.kind == "unique":
            cols = val if isinstance(val, list) else [val]
            if cols != [self.id_col]:
                # rows are bucketed by hash(id_col); a resume over pending
                # buckets would miss cross-bucket duplicates of any OTHER
                # key — those checks run in the global (bucket=-1) pass
                return None
            out = uniqueness_violations(bucketed, cols, keyword_location=check.keyword_location)
            # duplicates of id_col are colocated in its hash bucket
            return out.withColumn("_bucket", _bucket_expr(F.col("doc_id"), self.n_buckets))
        if check.kind == "ref":
            if source_dict is None:
                return None
            viols = []
            for fact_col, target in val.items():
                # spec forms: "dict.col" (broadcast, the small-dim default)
                # or {"target": "dict.col", "strategy": "sortmerge"} for
                # large dictionaries — salted sort-merge: fact side gets a
                # salt, dim side replicates ×S, bounding any hot key's
                # reducer at 1/S (north rule: explicit repartition + skew
                # salting on the source column)
                if isinstance(target, dict):
                    dim_col = target["target"].split(".")[-1]
                    strategy = target.get("strategy", "broadcast")
                else:
                    dim_col = target.split(".")[-1]
                    strategy = "broadcast"
                v = referential_violations(
                    bucketed, fact_col, source_dict, dim_col,
                    id_col=self.id_col, keyword_location=check.keyword_location,
                    strategy=strategy,
                ).withColumn("_bucket", _bucket_expr(F.col("doc_id"), self.n_buckets))
                viols.append(v)
            out = viols[0]
            for v in viols[1:]:
                out = out.unionByName(v)
            return out
        return None  # drift is global — handled in _global_violations

    def _global_violations(self, df: DataFrame, set_checks: list[SetCheck]) -> DataFrame | None:
        """Checks needing the whole table: KS drift per group, and
        uniqueness on keys other than id_col (not bucket-complete)."""
        outs = []
        for check in set_checks:
            if check.kind == "unique":
                cols = (check.params["value"] if isinstance(check.params["value"], list)
                        else [check.params["value"]])
                if cols != [self.id_col]:
                    outs.append(uniqueness_violations(
                        df, cols, keyword_location=check.keyword_location))
                continue
            if check.kind != "drift":
                continue
            for value_col, cfg in check.params["value"].items():
                group_col = cfg.get("per", "source")
                test = cfg.get("test", "ks")
                if test == "psi":
                    from json_schema_modern_spark.operators.drift import (
                        psi_drift, psi_violations,
                    )

                    d = psi_drift(df, value_col, group_col, 0.0, self.drift_hi,
                                  min(self.drift_bins, 64),
                                  threshold=float(cfg.get("threshold", 0.2)))
                    outs.append(psi_violations(
                        d, group_col, value_col,
                        keyword_location=check.keyword_location))
                    continue
                alpha = float(cfg.get("alpha", 0.01))
                d = ks_drift(df, value_col, group_col, 0.0, self.drift_hi,
                             self.drift_bins, alpha=alpha)
                outs.append(
                    drift_violations(d, group_col, value_col,
                                     keyword_location=check.keyword_location))
        if not outs:
            return None
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    # -- main entry ---------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        source_dict: DataFrame | None = None,
        snapshot_id: str = "unpinned",
        resume: bool = True,
        stats_columns: list[str] | None = None,
    ) -> PipelineResult:
        # the one compile of the run: bucketed and plain frames share the
        # plan's set checks, which depend on the spec alone
        plan = self.validator.compile_for(df.withColumn("_bucket", F.lit(0)))
        fingerprint = plan.fingerprint
        run_id = uuid.uuid4().hex[:12]
        bucketed = df.withColumn("_bucket", _bucket_expr(F.col(self.id_col), self.n_buckets))
        stats = column_stats(df, stats_columns or [c for c in df.columns if c != "tokens"])

        if self.workdir is None:
            return self._run_inmemory(run_id, bucketed, plan.set_checks, source_dict, stats)

        os.makedirs(self.workdir, exist_ok=True)
        # persist the frozen validator next to the lineage (reference
        # serialization caching, Modern.pm:1259-1279 / README.pod CACHING):
        # a restarted driver resumes via ``ValidationPipeline.resume_from``
        # which thaws this file instead of re-running the traverse phase
        plan_path = os.path.join(self.workdir, f"plan_{fingerprint}.json")
        if not os.path.exists(plan_path):
            self.validator.save(plan_path)
        # manifest lands BEFORE bucket work so a crashed run is resumable
        # (rewritten at the end with the completing run_id)
        _write_manifest(self.workdir, run_id, snapshot_id, fingerprint,
                        self.n_buckets, self.id_col, self.drift_bins,
                        self.drift_hi)
        done = self.done_buckets(snapshot_id, fingerprint) if resume else set()
        pending = [b for b in range(self.n_buckets) if b not in done]
        redo_global = bool(pending) or -1 not in done

        viol_path = os.path.join(self.workdir, "violations")
        fp_dir = os.path.join(viol_path, f"fp={fingerprint}")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        if pending:
            sub = bucketed.filter(F.col("_bucket").isin(pending))
            viols = self._bucket_violations(sub, plan.set_checks, source_dict)
            # violations are partitioned by (fp, bucket): runs with a
            # changed spec never see another fingerprint's rows, and
            # dynamic overwrite stays scoped to this spec's partitions.
            # Dynamic overwrite only replaces partitions that RECEIVE
            # rows — a pending bucket whose re-run yields zero violations
            # must still clear stale files, so drop those partition dirs
            # explicitly first (idempotent, pre-commit: lineage marks the
            # bucket done only after the write succeeds).
            for b in pending:
                shutil.rmtree(os.path.join(fp_dir, f"bucket={b}"), ignore_errors=True)
            viols.withColumnRenamed("_bucket", "bucket") \
                .withColumn("fp", F.lit(fingerprint)) \
                .write.mode("overwrite").partitionBy("fp", "bucket").parquet(viol_path)

        # global pass (drift, non-id uniqueness) — bucket -1, re-done on
        # every completing run
        if redo_global:
            shutil.rmtree(os.path.join(fp_dir, "bucket=-1"), ignore_errors=True)
            gv = self._global_violations(df, plan.set_checks)
            if gv is not None:
                gv.withColumn("bucket", F.lit(-1)).withColumn("fp", F.lit(fingerprint)) \
                    .write.mode("overwrite").partitionBy("fp", "bucket").parquet(viol_path)

        # read this spec's partition subtree directly (never sibling
        # fingerprints' files); a fully-clean run writes no partition files
        # at all — that is an empty violations table, not an error (the CLI
        # must exit 0).  Any OTHER read failure (corrupt files, permission)
        # must propagate: treating it as "no violations" would report a
        # dirty dataset as valid.
        has_files = any(
            f.endswith(".parquet")
            for _, _, files in os.walk(fp_dir) for f in files)
        if has_files:
            # the workdir is local (remote URIs are rejected above): its
            # ≤ n_buckets+1 partition dirs list on the driver in
            # milliseconds, where past 32 children Spark would run a
            # listing job of its own
            key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
            prev = spark.conf.get(key)
            spark.conf.set(key, str(self.n_buckets + 2))
            try:
                all_viols = spark.read.schema(WRITTEN_VIOL_SCHEMA).parquet(fp_dir)
            finally:
                spark.conf.set(key, prev)
            rollup = {(r.bucket, r.keyword, r.keyword_location): r["count"] for r in
                      all_viols.groupBy("bucket", "keyword", "keyword_location")
                      .count().collect()}
        else:
            all_viols = spark.createDataFrame([], WRITTEN_VIOL_SCHEMA)
            rollup = {}
        errors: Counter = Counter()
        per_keyword: Counter = Counter()
        for (b, kw, loc), n in rollup.items():
            errors[b] += n
            per_keyword[(kw, loc)] += n

        # one small aggregate over the input gives both the per-bucket doc
        # counts and the n_tok histogram: (bucket, histogram bin) → rows
        hist_bin = (histogram_bin("n_tok", 0.0, self.drift_hi, HISTOGRAM_BINS)
                    if "n_tok" in df.columns else F.lit(None))
        doc_counts: Counter = Counter()
        hist_counts: Counter = Counter()
        for r in bucketed.groupBy("_bucket", hist_bin.alias("bin")).count().collect():
            doc_counts[r._bucket] += r["count"]
            if r.bin is not None:
                hist_counts[r.bin] += r["count"]

        now = time.time()
        _write_driver_table(self._lineage_path(), LINEAGE_SCHEMA, [
            (run_id, snapshot_id, fingerprint, b, "done", doc_counts[b], errors[b], now)
            for b in pending + ([-1] if redo_global else [])
        ], append=True)

        # metrics tables (north rule: per-partition lineage + metrics):
        # column stats, value histogram, per-bucket pass/fail rollup,
        # per-keyword violation rollup — tiny outputs, one file each
        stats.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.workdir, "stats"))
        tables = {
            "partition_results": (PARTITION_RESULTS_SCHEMA, [
                (b, errors[b] == 0, n, errors[b]) for b, n in sorted(doc_counts.items())]),
            "violation_counts": (VIOLATION_COUNTS_SCHEMA, [
                (kw, loc, n) for (kw, loc), n in sorted(per_keyword.items())]),
        }
        if "n_tok" in df.columns:
            tables["histogram"] = (HISTOGRAM_SCHEMA, [
                (b, *histogram_edges(b, 0.0, self.drift_hi, HISTOGRAM_BINS), n)
                for b, n in sorted(hist_counts.items())])
        written = {}
        for name, (ddl, rows) in tables.items():
            path = os.path.join(self.workdir, name)
            _write_driver_table(path, ddl, rows)
            written[name] = spark.read.schema(ddl).parquet(path)
        _write_manifest(self.workdir, run_id, snapshot_id, fingerprint,
                        self.n_buckets, self.id_col, self.drift_bins,
                        self.drift_hi)
        return PipelineResult(
            run_id=run_id, violations=all_viols, stats=stats,
            histogram=written.get("histogram"),
            partition_results=written["partition_results"],
            violation_counts=written["violation_counts"],
            buckets_done=len(pending),
            buckets_skipped=self.n_buckets - len(pending),
            counts={"violations": sum(rollup.values())},
        )

    def _run_inmemory(self, run_id, bucketed, set_checks, source_dict, stats) -> PipelineResult:
        viols = self._bucket_violations(bucketed, set_checks, source_dict)
        gv = self._global_violations(bucketed.drop("_bucket"), set_checks)
        if gv is not None:
            viols = viols.unionByName(gv.withColumn("_bucket", F.lit(-1)))
        return PipelineResult(
            run_id=run_id, violations=viols.drop("_bucket"), stats=stats,
            histogram=(numeric_histogram(bucketed, "n_tok", 0.0, self.drift_hi, HISTOGRAM_BINS)
                       if "n_tok" in bucketed.columns else None),
            partition_results=_partition_results(bucketed, viols),
            violation_counts=viols.groupBy("keyword", "keyword_location")
            .agg(F.count(F.lit(1)).alias("n_violations")),
            buckets_done=self.n_buckets,
        )


def _bucket_expr(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _partition_results(bucketed: DataFrame, viols: DataFrame) -> DataFrame:
    """partition_results(partition_id, valid, doc_count, error_count) where
    the partition unit is the checkpoint bucket; global-pass violations
    (``_bucket`` = -1) belong to no partition."""
    per_bucket_docs = bucketed.groupBy(F.col("_bucket").alias("partition_id")) \
        .agg(F.count(F.lit(1)).alias("doc_count"))
    per_bucket_errs = viols.filter(F.col("_bucket") >= 0) \
        .groupBy(F.col("_bucket").alias("partition_id")) \
        .agg(F.count(F.lit(1)).alias("error_count"))
    return (
        per_bucket_docs.join(per_bucket_errs, "partition_id", "left")
        .select(
            "partition_id",
            F.coalesce("error_count", F.lit(0)).alias("error_count"),
            "doc_count",
        )
        .withColumn("valid", F.col("error_count") == 0)
        .select("partition_id", "valid", "doc_count", "error_count")
    )


_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
                "double": pa.float64(), "boolean": pa.bool_()}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema of a flat ``"name type, ..."`` DDL string, so a
    driver-written table and its Spark reader share one definition."""
    return pa.schema([(name, _ARROW_TYPES[typ])
                      for name, typ in (f.split() for f in ddl.split(","))])


def _write_driver_table(path: str, ddl: str, rows: list[tuple], *,
                        append: bool = False) -> None:
    """Write ``rows`` as one parquet file from the driver — for tables of at
    most a few hundred rows, where a Spark write costs a job and up to a
    second.  The file is written under a hidden name (Spark and pyarrow
    readers skip ``.``-prefixed files) and renamed into place, so readers
    never see a partial file.  ``append=False`` replaces the dataset."""
    schema = _arrow_schema(ddl)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=schema)
    name = f"part-{uuid.uuid4().hex}.parquet"
    if append:
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, name))
        return
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, name))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def _write_manifest(workdir, run_id, snapshot_id, fingerprint, n_buckets,
                    id_col="doc_id", drift_bins=256, drift_hi=2048.0) -> None:
    with open(os.path.join(workdir, "run_manifest.json"), "w") as f:
        json.dump({
            "run_id": run_id, "snapshot_id": snapshot_id,
            "spec_fingerprint": fingerprint, "n_buckets": n_buckets,
            "id_col": id_col, "drift_bins": drift_bins, "drift_hi": drift_hi,
        }, f, indent=2)
