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
- rows are bucketed by ``pmod(xxhash64(doc_id), n_buckets)``.  Because
  the bucket key is a hash of the uniqueness key, duplicate doc_ids always
  land in the same bucket, so the uniqueness check is per-bucket-complete —
  no cross-bucket pass needed;
- a checkpointed run reads its input three times: the row pass, doc_id
  uniqueness and one aggregate.  The row pass evaluates the compiled plan
  and the broadcast ``x-ref`` lookup (an existence join against the
  dictionary) in one projection; a ``strategy: sortmerge`` reference keeps
  a join of its own.  The aggregate runs first, over grouping sets
  (bucket, n_tok histogram bin) and, per ``x-drift`` check, (group, drift
  bin), with the column stats an ``Observation`` on its scan.  An
  in-memory run (no workdir) runs the same aggregate and takes its stats,
  histogram, doc counts and drift from it too;
- a wave is the unit of write and restart.  A run's pending buckets are
  one wave: one plain Spark write into a directory of its own,
  ``violations/fp=<fp>/wave=<run_id>-0/``, with ``bucket`` a column of the
  files.  Global checks that need all rows (drift per group, non-id
  uniqueness) write a second wave, ``<run_id>-g``, under bucket = -1.
  Drift folds the aggregate's (group, bin) counts on the driver, so its
  rows are written from the driver; non-id uniqueness is a Spark write;
- right after a wave's write commits, its lineage rows (run_id = the wave
  id, snapshot, fingerprint, bucket, status, doc_count, error_count,
  n_buckets) are appended, so a crash redoes only the waves without
  lineage.  A bucket's live wave is the one named by its latest done
  lineage row written under the run's bucket count; readers read exactly
  those directories, by path, and a run deletes the wave directories no
  latest row of any bucket count names (crashed or superseded waves).  A
  wave is live for all of its buckets or none: it holds every bucket
  pending at its start, so a later run either redoes all of them
  (``resume=False``) or none (resume skips them);
- ``run_manifest.json`` records the workdir's layout, ``LAYOUT``.  A run
  and ``resume_from`` refuse a workdir of any other layout, or of none
  (workdirs written before layouts were numbered), and leave it as it is;
- a wave's violations are counted on the driver from its files with
  pyarrow, as (bucket, keyword, keyword_location).  Every other table
  derives from those counts and the aggregate's: the lineage
  ``doc_count``/``error_count``, ``partition_results``,
  ``violation_counts``, the histogram, and ``PipelineResult.counts`` (the
  CLI's total).  Lineage, the column stats and the count-derived tables
  are a few hundred rows at most, so the driver writes them with pyarrow
  (one file each, written under a hidden name and renamed into place)
  instead of a Spark write per table.  A resume with nothing to redo reads
  the input once, for the aggregate;
- a run holds the workdir through a claim file (run_id, pid, host):
  a second run on it fails while the first one lives;
- resume = read lineage, skip done buckets, process the rest.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import socket
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from json_schema_modern_spark.compiler.column_compiler import SetCheck
from json_schema_modern_spark.operators.drift import (
    drift_table, drift_violations, psi_violations,
)
from json_schema_modern_spark.operators.referential import (
    reference_missing, referential_violations, violation_fields,
)
from json_schema_modern_spark.operators.stats import (
    STATS_SCHEMA, histogram_bin, histogram_edges, stats_aggs, stats_rows,
)
from json_schema_modern_spark.operators.uniqueness import uniqueness_violations
from json_schema_modern_spark.validator import Validator

VIOL_COLS = [
    "doc_id", "instance_location", "keyword_location",
    "absolute_keyword_location", "keyword", "error", "offending_value",
]
WRITTEN_VIOL_SCHEMA = ", ".join(f"{c} string" for c in VIOL_COLS) + ", bucket int"

# rows record the bucket count of the run that wrote them: a bucket id
# names rows only under the count that hashed them
LINEAGE_SCHEMA = (
    "run_id string, snapshot_id string, spec_fingerprint string, "
    "bucket int, status string, doc_count long, error_count long, "
    "updated_at double, n_buckets int"
)
LAYOUT = 2   # the workdir layout: wave directories, lineage with n_buckets
# the pipeline's attributes the manifest records, for resume_from
MANIFEST_KEYS = ("id_col", "n_buckets", "drift_bins", "drift_hi")
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
        self.workdir = None if workdir is None else _local_path(workdir)
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
        workdir = _local_path(workdir)
        manifest = _read_manifest(workdir)
        fp = fingerprint or manifest["spec_fingerprint"]
        validator = Validator.load(os.path.join(workdir, f"plan_{fp}.json"))
        pipe = cls.__new__(cls)
        pipe.spec, pipe.workdir, pipe.validator = validator.spec, workdir, validator
        for key in MANIFEST_KEYS:
            setattr(pipe, key, manifest[key])
        return pipe

    # -- lineage ------------------------------------------------------------

    def _latest_waves(self, fingerprint: str) -> dict[tuple[str, int, int], str]:
        """(snapshot_id, bucket count, bucket) → the wave id (lineage
        ``run_id``) of the latest done lineage row for this spec: the wave
        that holds that bucket's live violations under that count."""
        p = os.path.join(self.workdir, "lineage")
        if not os.path.isdir(p):
            return {}
        rows = pads.dataset(p, format="parquet").to_table(
            columns=["run_id", "snapshot_id", "spec_fingerprint", "bucket",
                     "status", "updated_at", "n_buckets"]).to_pylist()
        return {(r["snapshot_id"], r["n_buckets"], r["bucket"]): r["run_id"]
                for r in sorted(rows, key=lambda r: r["updated_at"])
                if (r["spec_fingerprint"], r["status"]) == (fingerprint, "done")}

    def _live(self, waves: dict, snapshot_id: str) -> dict[int, str]:
        """bucket → live wave of ``snapshot_id`` under this pipeline's
        bucket count."""
        return {b: w for (s, n, b), w in waves.items()
                if (s, n) == (snapshot_id, self.n_buckets)}

    # -- per-bucket row-local + bucket-safe set checks ----------------------

    def _bucket_violations(self, bucketed: DataFrame, plan,
                           source_dict: DataFrame | None) -> DataFrame:
        """All checks that are complete within a hash bucket of doc_id:
        row-local keywords and the broadcast referential lookup (one pass;
        row-local w.r.t. the broadcast dictionary), doc_id uniqueness
        (hash-colocated) and sort-merge referential joins."""
        rows, extra, more = bucketed, [], []
        for check in plan.set_checks:
            if check.kind == "unique" and _unique_cols(check) == [self.id_col]:
                # duplicates of id_col are colocated in its hash bucket; other
                # keys run in the global pass, as a resume over pending buckets
                # would miss their cross-bucket duplicates
                more.append(uniqueness_violations(
                    bucketed, [self.id_col], keyword_location=check.keyword_location))
            elif check.kind == "ref" and source_dict is not None:
                for fact_col, target in check.params["value"].items():
                    # spec forms: "dict.col" (broadcast, the small-dim default)
                    # or {"target": "dict.col", "strategy": "sortmerge"} for
                    # large dictionaries — salted sort-merge: fact side gets a
                    # salt, dim side replicates ×S, bounding any hot key's
                    # reducer at 1/S (north rule: explicit repartition + skew
                    # salting on the source column)
                    if not isinstance(target, dict):
                        target = {"target": target}
                    dim_col = target["target"].split(".")[-1]
                    strategy = target.get("strategy", "broadcast")
                    if strategy == "broadcast":
                        # a lookup column of the row pass, not a join of its own
                        name = f"_xref{len(extra)}"
                        rows = rows.withColumn(name, reference_missing(fact_col, source_dict, dim_col))
                        extra.append((F.col(name), F.struct(
                            *violation_fields(fact_col, check.keyword_location))))
                        continue
                    more.append(referential_violations(
                        bucketed, fact_col, source_dict, dim_col, id_col=self.id_col,
                        keyword_location=check.keyword_location, strategy=strategy))
        res = self.validator.validate(rows, id_cols=[self.id_col, "_bucket"],
                                      plan=plan, extra=extra)
        viols = res.violations.select(
            F.col(self.id_col).cast("string").alias("doc_id"),
            *VIOL_COLS[1:], F.col("_bucket"),
        )
        for v in more:
            viols = viols.unionByName(
                v.withColumn("_bucket", _bucket_expr(F.col("doc_id"), self.n_buckets)))
        return viols

    def _wave_violations(self, bucketed: DataFrame, wave: list[int], plan,
                         source_dict: DataFrame | None) -> DataFrame:
        """The rows one wave writes: its buckets' violations, ``bucket`` a
        column.  The wave's buckets are one IN predicate (one py4j call,
        where ``isin`` makes one per bucket), and none at all when the
        wave holds every bucket."""
        if len(wave) < self.n_buckets:
            bucketed = bucketed.filter(F.expr(f"_bucket IN ({', '.join(map(str, wave))})"))
        return self._bucket_violations(bucketed, plan, source_dict) \
            .withColumnRenamed("_bucket", "bucket")

    def _drifts(self, set_checks: list[SetCheck]) -> list[_Drift]:
        out = []
        for check in set_checks:
            if check.kind != "drift":
                continue
            for value_col, cfg in check.params["value"].items():
                test = cfg.get("test", "ks")
                out.append(_Drift(value_col, cfg.get("per", "source"), test,
                                  min(self.drift_bins, 64) if test == "psi" else self.drift_bins,
                                  float(cfg.get("alpha", 0.01)),
                                  float(cfg.get("threshold", 0.2)), check.keyword_location))
        return out

    def _global_violations(self, df: DataFrame, set_checks: list[SetCheck],
                           cells: list[dict] | None = None
                           ) -> tuple[DataFrame | None, list[DataFrame]]:
        """Checks needing the whole table: uniqueness on keys other than
        id_col (not bucket-complete), and drift per group.  Each drift
        check folds its (group, bin) counts — ``cells``, counted by the
        checkpointed run's input aggregate, or counted here — into a local
        DataFrame of its violations."""
        uniq = [uniqueness_violations(df, _unique_cols(c), keyword_location=c.keyword_location)
                for c in set_checks
                if c.kind == "unique" and _unique_cols(c) != [self.id_col]]
        drift = []
        for i, d in enumerate(self._drifts(set_checks)):
            table = drift_table(df, d.value_col, d.group_col, 0.0, self.drift_hi, d.bins,
                                d.test, alpha=d.alpha, threshold=d.threshold,
                                cells=None if cells is None else cells[i])
            viols = psi_violations if d.test == "psi" else drift_violations
            drift.append(viols(table, d.group_col, d.value_col,
                               keyword_location=d.keyword_location))
        return _union(uniq), drift

    def _input_aggregate(self, bucketed: DataFrame, drifts: list[_Drift],
                         stats_cols: list[str]) -> tuple[DataFrame, Observation, dict]:
        """The run's one aggregate over the input: grouping sets
        (bucket, n_tok histogram bin) and, per drift check, (group, drift
        bin), counted as ``_n``, with the column stats an ``Observation``
        on the same scan.  Also returns ``_set`` (grouping_id) → the index
        of the grouping set."""
        hist = ["n_tok"] if "n_tok" in bucketed.columns else []
        keys = {"_bucket": F.col("_bucket"),
                "_h": (histogram_bin("n_tok", 0.0, self.drift_hi, HISTOGRAM_BINS)
                       if hist else F.lit(None).cast("long"))}
        sets = [["_bucket", "_h"]]
        for i, d in enumerate(drifts):
            keys[f"_g{i}"] = F.col(d.group_col)
            keys[f"_d{i}"] = histogram_bin(d.value_col, 0.0, self.drift_hi, d.bins)
            sets.append([f"_g{i}", f"_d{i}"])
        names = list(keys)
        # grouping_id() sets bit j (most significant first) when names[j]
        # is not in the row's grouping set
        set_of = {sum(1 << (len(names) - 1 - j) for j, k in enumerate(names) if k not in s): i
                  for i, s in enumerate(sets)}
        obs = Observation()
        agg = (bucketed.select(*dict.fromkeys(["_bucket", *stats_cols, *hist, *(
                    c for d in drifts for c in (d.value_col, d.group_col))]))
               .observe(obs, *stats_aggs(bucketed, stats_cols))
               .select(*(c.alias(k) for k, c in keys.items()))
               .groupingSets(sets, *names)
               .agg(F.count(F.lit(1)).alias("_n"), F.grouping_id().alias("_set")))
        return agg, obs, set_of

    def _count_input(self, bucketed: DataFrame, drifts: list[_Drift],
                     stats_cols: list[str]) -> tuple[Counter, Counter, list[dict], list[tuple]]:
        """Runs ``_input_aggregate``: the per-bucket doc counts, the
        histogram counts, each drift check's (group, bin) → count cells and
        the stats rows."""
        agg, obs, set_of = self._input_aggregate(bucketed, drifts, stats_cols)
        doc_counts: Counter = Counter()
        hist_counts: Counter = Counter()
        cells: list[dict] = [{} for _ in drifts]
        for r in agg.collect():
            i = set_of[r._set]
            if i == 0:
                doc_counts[r._bucket] += r._n
                if r._h is not None:
                    hist_counts[r._h] += r._n
            elif r[f"_d{i - 1}"] is not None:
                cells[i - 1][(r[f"_g{i - 1}"], r[f"_d{i - 1}"])] = r._n
        return doc_counts, hist_counts, cells, stats_rows(obs.get, stats_cols)

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
        # the one compile of the run, for the input's own columns: the
        # bucket and lookup columns the passes add are not properties
        plan = self.validator.compile_for(df)
        run_id = uuid.uuid4().hex[:12]
        bucketed = df.withColumn("_bucket", _bucket_expr(F.col(self.id_col), self.n_buckets))
        stats_cols = stats_columns or [c for c in df.columns if c != "tokens"]

        if self.workdir is None:
            return self._run_inmemory(spark, df, bucketed, plan, run_id, source_dict, stats_cols)

        os.makedirs(self.workdir, exist_ok=True)
        with _claim_workdir(self.workdir, run_id):
            # another layout is refused before any write, and never deleted
            if os.path.exists(os.path.join(self.workdir, "run_manifest.json")):
                _read_manifest(self.workdir)
            return self._run_checkpointed(spark, df, bucketed, plan, run_id,
                                          snapshot_id, resume, source_dict, stats_cols)

    def _run_checkpointed(self, spark, df, bucketed, plan, run_id, snapshot_id,
                          resume, source_dict, stats_cols) -> PipelineResult:
        fingerprint = plan.fingerprint
        # persist the frozen validator next to the lineage (reference
        # serialization caching, Modern.pm:1259-1279 / README.pod CACHING):
        # a restarted driver resumes via ``ValidationPipeline.resume_from``
        # which thaws this file instead of re-running the traverse phase
        plan_path = os.path.join(self.workdir, f"plan_{fingerprint}.json")
        if not os.path.exists(plan_path):
            self.validator.save(plan_path)
        # manifest lands BEFORE bucket work so a crashed run is resumable
        self._write_manifest(run_id, snapshot_id, fingerprint)
        latest = self._latest_waves(fingerprint)
        done = set(self._live(latest, snapshot_id)) if resume else set()
        pending = [b for b in range(self.n_buckets) if b not in done]
        redo_global = bool(pending) or -1 not in done
        fp_dir = os.path.join(self.workdir, "violations", f"fp={fingerprint}")

        # the input's one aggregate runs first: each wave's lineage rows
        # carry its doc counts, and the global wave's drift folds its cells
        doc_counts, hist_counts, cells, stats = self._count_input(
            bucketed, self._drifts(plan.set_checks) if redo_global else [], stats_cols)

        counted: dict[str, Counter] = {}

        def write_wave(wave_id: str, buckets: list[int], viols: DataFrame | None,
                       local: list[DataFrame] = ()):
            # a plain write into a directory no other wave uses; the wave
            # is live only once its lineage rows land, so a crash before
            # that leaves an orphan directory that nothing reads.  Rows a
            # local DataFrame holds are written from the driver.
            path = os.path.join(fp_dir, f"wave={wave_id}")
            if viols is not None:
                viols.write.parquet(path)
            if local:
                _write_driver_table(path, WRITTEN_VIOL_SCHEMA, [
                    (*r, -1) for v in local for r in v.collect()], append=True)
            counted[path] = _count_violations(path) if os.path.isdir(path) else Counter()
            errors: Counter = Counter()
            for (b, _, _), n in counted[path].items():
                errors[b] += n
            now = time.time()
            _write_driver_table(os.path.join(self.workdir, "lineage"), LINEAGE_SCHEMA, [
                (wave_id, snapshot_id, fingerprint, b, "done", doc_counts[b], errors[b], now,
                 self.n_buckets) for b in buckets], append=True)
            latest.update({(snapshot_id, self.n_buckets, b): wave_id for b in buckets})

        # the pending buckets are one wave: each wave scans the whole input,
        # so splitting them would multiply the scans
        if pending:
            write_wave(f"{run_id}-0", pending,
                       self._wave_violations(bucketed, pending, plan, source_dict))
        # global pass (drift, non-id uniqueness) — bucket -1, a wave of its
        # own, re-done on every run that re-does any bucket
        if redo_global:
            uniq, drift = self._global_violations(df, plan.set_checks, cells)
            write_wave(f"{run_id}-g", [-1],
                       None if uniq is None else uniq.withColumn("bucket", F.lit(-1)), drift)

        # this snapshot's live data: for each bucket, the wave of its latest
        # done lineage row; a live wave is live for all of its buckets, so
        # it is read whole
        waves = {os.path.join(fp_dir, f"wave={w}")
                 for w in self._live(latest, snapshot_id).values()}
        waves = sorted(p for p in waves if os.path.isdir(p))
        rollup: Counter = Counter()
        for p in waves:
            rollup.update(counted[p] if p in counted else _count_violations(p))
        # delete the waves no latest done lineage row (of any snapshot and
        # bucket count of this spec) names: crashed waves' orphans and
        # waves a later run superseded
        named = set(latest.values())
        for name in os.listdir(fp_dir) if os.path.isdir(fp_dir) else ():
            if name.startswith("wave=") and name.removeprefix("wave=") not in named:
                shutil.rmtree(os.path.join(fp_dir, name))
        all_viols = (spark.read.schema(WRITTEN_VIOL_SCHEMA).parquet(*waves) if waves
                     else spark.createDataFrame([], WRITTEN_VIOL_SCHEMA))
        errors: Counter = Counter()
        per_keyword: Counter = Counter()
        for (b, kw, loc), n in rollup.items():
            errors[b] += n
            per_keyword[(kw, loc)] += n

        # metrics tables (north rule: per-partition lineage + metrics):
        # column stats, value histogram, per-bucket pass/fail rollup,
        # per-keyword violation rollup — tiny outputs, one file each
        tables = self._input_tables(df, stats, hist_counts) | {
            "partition_results": (PARTITION_RESULTS_SCHEMA, [
                (b, errors[b] == 0, n, errors[b]) for b, n in sorted(doc_counts.items())]),
            "violation_counts": (VIOLATION_COUNTS_SCHEMA, [
                (kw, loc, n) for (kw, loc), n in sorted(per_keyword.items())]),
        }
        written = {}
        for name, (ddl, rows) in tables.items():
            path = os.path.join(self.workdir, name)
            _write_driver_table(path, ddl, rows)
            written[name] = spark.read.schema(ddl).parquet(path)
        return PipelineResult(
            run_id=run_id, violations=all_viols, stats=written["stats"],
            histogram=written.get("histogram"),
            partition_results=written["partition_results"],
            violation_counts=written["violation_counts"],
            buckets_done=len(pending),
            buckets_skipped=self.n_buckets - len(pending),
            counts={"violations": sum(rollup.values())},
        )

    def _run_inmemory(self, spark, df, bucketed, plan, run_id, source_dict,
                      stats_cols) -> PipelineResult:
        # the checkpointed run's one input aggregate: the stats, histogram,
        # doc counts and drift cells come from it, so the violations'
        # row pass and uniqueness are the only other scans
        doc_counts, hist_counts, cells, stats = self._count_input(
            bucketed, self._drifts(plan.set_checks), stats_cols)
        viols = self._bucket_violations(bucketed, plan, source_dict)
        uniq, drift = self._global_violations(df, plan.set_checks, cells)
        gv = _union(([] if uniq is None else [uniq]) + drift)
        if gv is not None:
            viols = viols.unionByName(gv.withColumn("_bucket", F.lit(-1)))
        tables = {name: spark.createDataFrame(rows, ddl)
                  for name, (ddl, rows) in self._input_tables(df, stats, hist_counts).items()}
        # the partition unit is the bucket; global-pass violations
        # (``_bucket`` = -1) belong to no partition
        errors = viols.filter(F.col("_bucket") >= 0) \
            .groupBy(F.col("_bucket").alias("partition_id")) \
            .agg(F.count(F.lit(1)).alias("error_count"))
        n_errors = F.coalesce("error_count", F.lit(0))
        partition_results = (
            spark.createDataFrame(sorted(doc_counts.items()), "partition_id int, doc_count long")
            .join(errors, "partition_id", "left")
            .select("partition_id", (n_errors == 0).alias("valid"), "doc_count",
                    n_errors.alias("error_count")))
        return PipelineResult(
            run_id=run_id, violations=viols.drop("_bucket"),
            stats=tables["stats"], histogram=tables.get("histogram"),
            partition_results=partition_results,
            violation_counts=viols.groupBy("keyword", "keyword_location")
            .agg(F.count(F.lit(1)).alias("n_violations")),
            buckets_done=self.n_buckets,
        )

    def _write_manifest(self, run_id: str, snapshot_id: str, fingerprint: str) -> None:
        with open(os.path.join(self.workdir, "run_manifest.json"), "w") as f:
            json.dump({"layout": LAYOUT, "run_id": run_id, "snapshot_id": snapshot_id,
                       "spec_fingerprint": fingerprint,
                       **{key: getattr(self, key) for key in MANIFEST_KEYS}}, f, indent=2)

    def _input_tables(self, df: DataFrame, stats: list[tuple],
                      hist_counts: Counter) -> dict[str, tuple[str, list[tuple]]]:
        """name → (DDL, rows) of the stats table and, with an ``n_tok``
        column, the histogram, from the input aggregate's counts."""
        tables = {"stats": (STATS_SCHEMA, stats)}
        if "n_tok" in df.columns:
            tables["histogram"] = (HISTOGRAM_SCHEMA, [
                (b, *histogram_edges(b, 0.0, self.drift_hi, HISTOGRAM_BINS), n)
                for b, n in sorted(hist_counts.items())])
        return tables


@dataclass
class _Drift:
    """One x-drift entry: ``value_col`` binned into ``bins`` over
    [0, drift_hi), tested per ``group_col``."""

    value_col: str
    group_col: str
    test: str
    bins: int
    alpha: float
    threshold: float
    keyword_location: str


def _unique_cols(check: SetCheck) -> list[str]:
    val = check.params["value"]
    return val if isinstance(val, list) else [val]


def _union(frames: list[DataFrame]) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, frames) if frames else None


def _local_path(workdir: str) -> str:
    """``workdir`` without ``file://``.  Remote URIs (hdfs://, s3a://) are
    refused: claims, wave cleanup and lineage use os-level file ops, which
    would silently miss a remote directory and corrupt resume."""
    if "://" in workdir and not workdir.startswith("file://"):
        raise ValueError(
            "workdir must be a local filesystem path (remote URIs are "
            "not supported; point workdir at a shared local mount)")
    return workdir.removeprefix("file://")


def _bucket_expr(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


@contextlib.contextmanager
def _claim_workdir(workdir: str, run_id: str):
    """Hold ``<workdir>/.claim`` (run_id, pid, host) for the run.  The claim
    is written whole under a name of its own and hard-linked into place,
    which fails if ``.claim`` exists, so a second run on the workdir fails
    while the first one's pid is alive.  A claim whose pid is dead on this
    host, or whose content does not parse (no run writes such a claim), is
    taken over.  Nothing watches the claim: no thread, no process."""
    path = os.path.join(workdir, ".claim")
    me = {"run_id": run_id, "pid": os.getpid(), "host": socket.gethostname()}
    mine = f"{path}.{run_id}"
    with open(mine, "w") as f:
        json.dump(me, f)
    try:
        while True:
            try:
                os.link(mine, path)
                break
            except FileExistsError:
                try:
                    with open(path) as f:
                        owner = json.load(f)
                except FileNotFoundError:      # released meanwhile: try again
                    continue
                except ValueError:             # not a claim: take it over
                    owner = {}
                if owner and (owner.get("host") != me["host"]
                              or _pid_alive(owner.get("pid"))):
                    raise RuntimeError(
                        f"workdir {workdir} is claimed by run {owner.get('run_id')} "
                        f"(pid {owner.get('pid')} on {owner.get('host')}); remove "
                        f"{path} if that run is gone") from None
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)
    finally:
        os.remove(mine)
    try:
        yield
    finally:
        os.remove(path)


def _pid_alive(pid) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:      # alive, another user's
        pass
    return True


def _count_violations(path: str) -> Counter:
    """(bucket, keyword, keyword_location) → rows of the violation files
    in ``path``, counted on the driver with pyarrow (the workdir is local;
    a Spark aggregate costs two jobs)."""
    cols = ["bucket", "keyword", "keyword_location"]
    full = _arrow_schema(WRITTEN_VIOL_SCHEMA)
    ds = pads.dataset(path, schema=pa.schema([full.field(c) for c in cols]),
                      format="parquet")
    return Counter({(r["bucket"], r["keyword"], r["keyword_location"]): r["count_all"]
                    for r in ds.to_table(columns=cols).group_by(cols)
                    .aggregate([([], "count_all")]).to_pylist()})


_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
                "bigint": pa.int64(), "double": pa.float64(), "boolean": pa.bool_()}


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


def _read_manifest(workdir: str) -> dict:
    """``workdir``'s run manifest; a manifest of another layout than
    ``LAYOUT``, or of none, raises ValueError."""
    with open(os.path.join(workdir, "run_manifest.json")) as f:
        manifest = json.load(f)
    if manifest.get("layout") != LAYOUT:
        raise ValueError(
            f"workdir {workdir} holds checkpoint layout {manifest.get('layout', 1)}, "
            f"this version reads layout {LAYOUT} only; delete the workdir or "
            f"use another one")
    return manifest
