"""Domain-mixture rebalancing: compute per-source keep rates that move
the corpus toward a target token share, and apply them with a
deterministic hash sample.

A pre-training corpus is a mixture of sources (web/books/code/...) whose
natural token shares rarely match the shares the training recipe wants
(cf. The Pile / DoReMi-style domain weights).  Downsampling-only
rebalancing: the most under-represented source keeps everything
(rate = 1) and every other source keeps the fraction that equalizes
token share against it.

All arithmetic is INTEGER (BIGINT) so the thresholds reproduce
bit-for-bit in any engine — rates as floats would make the sample
boundary depend on ulp-level division differences between Spark and the
DuckDB oracle.  With uniform target shares the keep threshold for
source s is

    threshold_s = (buckets * min_tokens) div tokens_s      in [0, buckets]

and a document is kept iff md5-bucket(doc_id) < threshold_s (same
engine-portable bucket as `splits.split_bucket`).  Non-uniform integer
target parts generalize via cross-multiplied minima; the uniform case is
what the driver query exercises.

Scale design (10^12 rows): the per-source token totals are one map-side
combined hash aggregate over |sources| groups (tiny); the thresholds
table is |sources| rows and is BROADCAST back, so the sampling pass is
a pure per-row map with no shuffle — the same shape as split
assignment.  Sampling by hash (not rand()) keeps the operation
idempotent under resume and stable across re-ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .splits import split_bucket

BUCKETS = 10_000


def mixture_thresholds(
    df: DataFrame,
    source_col: str = "source",
    size_col: str = "n_tok",
    buckets: int = BUCKETS,
) -> DataFrame:
    """(source, n_docs, n_tokens, keep_threshold, expected_tokens) for a
    uniform token-share target.  keep_threshold/buckets is the keep
    rate; expected_tokens = n_tokens * threshold div buckets (exact
    integer expectation under a uniform hash)."""
    per = (df.groupBy(source_col)
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(F.col(size_col).cast("long")).alias("n_tokens")))
    # scalar min over the |sources|-row aggregate: broadcast cross-join
    # of a PROVABLY 1-row frame (global agg, no grouping keys) — the
    # drift.py scalar pattern; a constant-key equi-join folds to the
    # same BroadcastNestedLoopJoin anyway
    # a source with zero (or all-NULL) tokens has no defined share: it
    # would divide-by-zero in `div n_tokens` (a hard error under ANSI and
    # in the oracle) and, as the min, zero every OTHER source's
    # threshold.  It contributes nothing to sample — drop it here, which
    # also drops its docs at stratified_sample's inner threshold join.
    per = per.where(F.col("n_tokens") > 0)
    min_tok = per.agg(F.min("n_tokens").alias("_min_tok"))
    per = per.crossJoin(F.broadcast(min_tok))
    return (per.select(
        source_col, "n_docs", "n_tokens",
        F.expr(f"({buckets} * _min_tok) div n_tokens").alias("keep_threshold"))
        .withColumn(
            "expected_tokens",
            F.expr(f"(n_tokens * keep_threshold) div {buckets}")))


def stratified_sample(
    df: DataFrame,
    thresholds: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix-v1",
    buckets: int = BUCKETS,
) -> DataFrame:
    """Keep rows whose md5 bucket clears their source's threshold.  The
    thresholds side is |sources| rows — broadcast, so this adds no
    shuffle to the scan."""
    th = F.broadcast(thresholds.select(source_col, "keep_threshold"))
    b = split_bucket(F.col(id_col), seed=seed, buckets=buckets)
    return (df.join(th, source_col)
              .filter(b < F.col("keep_threshold"))
              .drop("keep_threshold"))


def mixture_thresholds_oracle_sql(table_expr: str, size_expr: str,
                                  source_col: str = "source",
                                  buckets: int = BUCKETS) -> str:
    """DuckDB replay of mixture_thresholds (uniform target)."""
    return f"""
WITH per AS (
  SELECT {source_col}, count(*) AS n_docs,
         CAST(sum({size_expr}) AS BIGINT) AS n_tokens
  FROM {table_expr} GROUP BY 1
  HAVING CAST(sum({size_expr}) AS BIGINT) > 0
), m AS (SELECT min(n_tokens) AS min_tok FROM per)
SELECT {source_col}, n_docs, n_tokens,
       ({buckets} * (SELECT min_tok FROM m)) // n_tokens AS keep_threshold,
       (n_tokens * (({buckets} * (SELECT min_tok FROM m)) // n_tokens))
           // {buckets} AS expected_tokens
FROM per
"""


def temperature_weights(
    df: DataFrame,
    source_col: str = "source",
    size_col: str = "n_tok",
    alpha: float = 0.5,
) -> DataFrame:
    """(source, n_tokens, share, target_share, weight) — temperature-
    based mixture reweighting (the multilingual-sampling rule of
    mBERT/XLM-R/mT5): target share p_i ∝ (n_i/N)^α, so α=1 keeps natural
    proportions, α→0 approaches uniform, and 0<α<1 up-samples the tail
    without letting any head source dominate.  `weight` = target_share /
    natural_share is the per-source repetition factor a sampler applies.

    The smooth sibling of `mixture_thresholds` (hard uniform target):
    temperature keeps ORDER between sources while compressing the range.

    100 TB shape: one map-side-combined |sources|-row aggregate; the
    normalizing constant Σ share^α folds over the |sources| rows in
    deterministic source order (array_sort + aggregate — same bit-
    stability pattern as psi_drift) and broadcasts back.  Zero-token
    sources are dropped for the same divide-by-zero reason documented in
    `mixture_thresholds`."""
    per = (df.groupBy(source_col)
             .agg(F.sum(F.col(size_col).cast("long")).alias("n_tokens"))
             .where(F.col("n_tokens") > 0))
    tot = per.agg(F.sum("n_tokens").alias("_n"))
    shared = (per.crossJoin(F.broadcast(tot))
                 .withColumn("share", F.col("n_tokens") / F.col("_n"))
                 .withColumn("ps", F.pow("share", F.lit(float(alpha)))))
    denom = shared.agg(F.aggregate(
        F.array_sort(F.collect_list(F.struct(source_col, "ps"))),
        F.lit(0.0), lambda acc, x: acc + x["ps"]).alias("_denom"))
    out = shared.crossJoin(F.broadcast(denom))
    target = F.col("ps") / F.col("_denom")
    return out.select(
        source_col,
        "n_tokens",
        F.round("share", 6).alias("share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / F.col("share"), 6).alias("weight"),
    )


def unimax_allocation(
    df: DataFrame,
    budget_tokens: int | None = None,
    max_epochs: float = 4.0,
    source_col: str = "source",
    size_col: str = "n_tok",
    budget_frac: float | None = None,
) -> DataFrame:
    """(source, n_tokens, cap_tokens, alloc_tokens, epochs, capped) —
    UniMax epoch-capped budget allocation (Chung et al., "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023): distribute a total training-token budget as
    uniformly as possible across sources, except no source may be
    repeated beyond `max_epochs` passes over its data.

    Closed-form water-filling instead of the paper's iterative loop:
    sort sources by cap c_s = floor(max_epochs * n_s) ascending (floor,
    not round — rounding up would let a capped source exceed the stated
    max_epochs bound by up to half a token); source
    at rank i is capped iff c_i <= (B - Σ_{j<i} c_j) / (S - i + 1)
    (caps ascending ⇒ the capped set is a prefix), and every uncapped
    source receives the equal share (B - Σ_capped c) / (S - K).

    All sums are over BIGINT caps, so ranks and prefix sums reproduce
    bit-for-bit in any engine.  The capped test is a double division and
    comparison, as are the two final divisions; they agree across engines
    because both compute the same IEEE quotient from identical integer
    operands.  If the
    budget exceeds Σ c_s every source is capped and `alloc` = its cap.

    The budget is either an absolute `budget_tokens` int, or
    `budget_frac` — a fraction of the corpus's total tokens, resolved
    INSIDE the plan (floor(frac · Σn) folded into the same broadcast
    1-row aggregate the source count rides) so no driver-side action or
    extra scan is needed and an empty input yields an empty result
    instead of a driver error.

    100 TB shape: one map-side-combined |sources|-row aggregate; the
    water-filling windows run over that |sources|-row table on a single
    task (intentionally — |sources| is tens-to-thousands), never over
    data-sized input."""
    from pyspark.sql import Window

    if (budget_tokens is None) == (budget_frac is None):
        raise ValueError("pass exactly one of budget_tokens / budget_frac")
    per = (df.groupBy(source_col)
             .agg(F.sum(F.col(size_col).cast("long")).alias("n_tokens"))
             .where(F.col("n_tokens") > 0)
             .withColumn("cap_tokens",
                         F.floor(F.col("n_tokens") * F.lit(float(max_epochs)))
                          .cast("long")))
    w = Window.orderBy("cap_tokens", source_col)
    ranked = (
        per.withColumn("_i", F.row_number().over(w))
           .withColumn("_cum_prev", F.coalesce(
               F.sum("cap_tokens").over(
                   w.rowsBetween(Window.unboundedPreceding, -1)),
               F.lit(0).cast("long")))
    )
    if budget_frac is not None:
        s_tot = per.agg(
            F.count(F.lit(1)).alias("_s"),
            F.floor(F.lit(float(budget_frac)) * F.sum("n_tokens"))
             .cast("long").alias("_b"))
        b = F.col("_b")
    else:
        s_tot = per.agg(F.count(F.lit(1)).alias("_s"))
        b = F.lit(int(budget_tokens))
    j = (ranked.crossJoin(F.broadcast(s_tot))
               .withColumn("capped",
                           F.col("cap_tokens")
                           <= (b - F.col("_cum_prev"))
                           / (F.col("_s") - F.col("_i") + 1)))
    aggd = j.agg(
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).alias("_k"),
        F.sum(F.when(F.col("capped"), F.col("cap_tokens"))
               .otherwise(F.lit(0))).cast("long").alias("_capsum"))
    out = j.crossJoin(F.broadcast(aggd))
    rem_share = (b - F.col("_capsum")) / (F.col("_s") - F.col("_k"))
    alloc = F.when(F.col("capped"), F.col("cap_tokens").cast("double")) \
             .otherwise(rem_share)
    return out.select(
        source_col,
        "n_tokens",
        "cap_tokens",
        F.round(alloc, 6).alias("alloc_tokens"),
        F.round(alloc / F.col("n_tokens"), 6).alias("epochs"),
        "capped",
    ).orderBy(source_col)


def soft_quality_sample(
    df: DataFrame,
    score_col: str = "quality_score",
    id_col: str = "doc_id",
    strength: float = 1.0,
    seed: str = "softq-v1",
) -> DataFrame:
    """(id, score, bucket, threshold, keep) — score-proportional soft
    sampling: each row is kept with probability clamp(score, 0, 1)^
    `strength`, decided by a DETERMINISTIC md5-bucket draw (not rand()),
    so the sample is idempotent under resume and identical on
    re-ingestion.  The soft alternative to a hard quality cutoff
    (cf. the quality-filter ablations of the DCLM / FineWeb line of
    work): borderline documents survive in proportion to their score
    instead of dying at an arbitrary threshold, which preserves
    distributional coverage in the tail.  strength > 1 sharpens toward
    a hard filter; strength < 1 flattens toward keep-everything.

    keep ⇔ bucket < floor(round(p, 6) * buckets): integer comparison
    against an integer threshold, the same engine-exactness discipline
    as `mixture_thresholds` — with 6-decimal scores and the default
    10^4 buckets the product is exact in double, so the boundary cannot
    flip between engines (ulp-sensitive pow() results are rounded
    before the multiply).

    A NULL score means "unscored" and keeps NOTHING (threshold 0):
    Spark's least/greatest skip NULLs, so a bare clamp would silently
    resolve a NULL score to 1.0 and keep every unscored row — the
    opposite of safe sampling semantics.

    100 TB shape: pure per-row map — no shuffle, no aggregate, nothing
    collected; composes with any upstream scorer by column name."""
    p = F.when(
        F.col(score_col).isNull(), F.lit(0.0)
    ).otherwise(
        F.pow(F.greatest(F.lit(0.0), F.least(F.lit(1.0),
                                             F.col(score_col))),
              F.lit(float(strength))))
    thr = F.floor(F.round(p, 6) * F.lit(BUCKETS)).cast("long")
    b = split_bucket(F.col(id_col), seed=seed, buckets=BUCKETS)
    return df.select(
        F.col(id_col),
        F.round(F.col(score_col), 6).alias("score"),
        b.alias("bucket"),
        thr.alias("threshold"),
        (b < thr).alias("keep"),
    )
