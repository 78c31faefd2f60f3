"""KS-style distribution-drift checks, per group (x-drift keyword).

Compares each group's distribution of a numeric column against the global
(all-groups) distribution with a two-sample Kolmogorov–Smirnov statistic:
D = sup_x |ECDF_group(x) − ECDF_global(x)|, flagged when D exceeds the
critical value c(α)·sqrt((n+m)/(n·m)).

Two implementations:

- `ks_drift` (default): values are first binned (width_bucket, B buckets)
  → ONE groupBy(group, bin) count (`drift_counts`), whose at most
  |groups|×(B+2) rows are collected → one running-sum fold per group, on
  the driver, in plain Python.  The input is scanned once and the shuffle
  carries at most |groups|×(B+2) rows regardless of input size — this is
  the 100 TB path.  For an integer column like n_tok∈[1,2048], binning at
  B=max is EXACT.  `ks_drift` and `psi_drift` run their aggregate when
  called and return a local DataFrame; `drift_table` also folds counts
  another aggregate already made (the checkpointed pipeline counts them
  on its one input aggregate).  The fold's rounding and threshold
  comparisons are Spark expressions projected over the folded rows, which
  Spark evaluates on the driver without a job.
- `ks_drift_pandas` (applyInPandas): the reference-shape implementation on
  raw values per group, used to cross-check the binned one and as the
  engine's demonstration of a custom grouped aggregate (vectorized Arrow
  path, no per-row Python).
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_modern_spark.operators.stats import histogram_bin

# Smirnov critical-value coefficients c(α)
_C_ALPHA = {0.10: 1.224, 0.05: 1.358, 0.025: 1.480, 0.01: 1.628, 0.005: 1.731, 0.001: 1.949}


def _c_alpha(alpha: float) -> float:
    if alpha in _C_ALPHA:
        return _C_ALPHA[alpha]
    return math.sqrt(-0.5 * math.log(alpha / 2.0))


def drift_counts(df: DataFrame, value_col: str, group_col: str, lo: float,
                 hi: float, n_buckets: int) -> DataFrame:
    """(grp, bin, cnt): the one aggregate every binned drift test reads —
    one scan, one map-side-combined groupBy, at most |groups|×(B+2) rows
    out regardless of input size.  Values width_bucket cannot place (NULL,
    NaN) are skipped; a NULL group is counted (it pools)."""
    return (
        df.select(F.col(group_col).alias("grp"),
                  histogram_bin(value_col, lo, hi, n_buckets).alias("bin"))
        .where(F.col("bin").isNotNull())
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _largest_gap(grid: list[int], pool: list[int], n_grp: int, n_glob: int) -> float:
    """KS D: both running sums and the largest ECDF gap seen so far."""
    cum_grp = cum_glob = 0
    d = 0.0
    for cnt, gcnt in zip(grid, pool):
        cum_grp += cnt
        cum_glob += gcnt
        d = max(d, abs(cum_grp / n_grp - cum_glob / n_glob))
    return d


def _psi(grid: list[int], pool: list[int], n_grp: int, n_glob: int) -> float:
    """PSI with +0.5 Laplace smoothing per pooled bin, summed in bin order:
    float addition is not associative, so the order is part of the value."""
    half = 0.5 * len(grid)
    acc = 0.0
    for cnt, gcnt in zip(grid, pool):
        p = (cnt + 0.5) / (n_grp + half)
        q = (gcnt + 0.5) / (n_glob + half)
        acc = acc + (p - q) * math.log(p / q)
    return acc


def _fold(spark: SparkSession, counts: dict, group_type: T.DataType,
          stat) -> DataFrame:
    """(grp, n_grp, n_glob, stat) per non-NULL group from the counted
    (grp, bin) → cnt cells, folded on the driver (at most |groups|×(B+2)
    cells).  Each group's grid is every pooled bin in bin order, its own
    count 0 where it has none; ``stat(grid, pool, n_grp, n_glob)`` folds
    it.  The rows come back as a local DataFrame, so the rounding and
    comparisons projected over it run in Spark on the driver, without a
    job."""
    pooled: Counter = Counter()
    for (_, b), n in counts.items():
        pooled[b] += n
    bins = sorted(pooled)
    pool = [pooled[b] for b in bins]
    n_glob = sum(pool)
    groups = sorted({g for g, _ in counts if g is not None})
    # an inline table is a local relation: projections over it fold on the
    # driver.  A typed NULL row (filtered out) types the empty case; the
    # stat travels as its shortest round-trip decimal string, exactly.
    gtype = group_type.simpleString()
    cells = [f"(CAST(NULL AS {gtype}), 0L, 0L, 0D)"]
    for i, g in enumerate(groups):
        grid = [counts.get((g, b), 0) for b in bins]
        n_grp = sum(grid)
        cells.append(f"(CAST(:g{i} AS {gtype}), {n_grp}L, {n_glob}L, "
                     f"CAST('{stat(grid, pool, n_grp, n_glob)!r}' AS DOUBLE))")
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(cells)} AS t(grp, n_grp, n_glob, stat) "
        "WHERE grp IS NOT NULL", args={f"g{i}": g for i, g in enumerate(groups)})


def drift_table(df: DataFrame, value_col: str, group_col: str, lo: float, hi: float,
                n_buckets: int, test: str = "ks", alpha: float = 0.01,
                threshold: float = 0.2, cells: dict | None = None) -> DataFrame:
    """The ``ks_drift`` (``test="ks"``) or ``psi_drift`` table.  ``cells``:
    the (grp, bin) → cnt counts of ``drift_counts`` when another aggregate
    already made them; by default the aggregate runs here."""
    if cells is None:
        cells = {(r.grp, r.bin): r.cnt for r in
                 drift_counts(df, value_col, group_col, lo, hi, n_buckets).collect()}
    stats = _fold(df.sparkSession, cells, df.select(group_col).schema[0].dataType,
                  _psi if test == "psi" else _largest_gap)
    sizes = [F.col("grp").alias(group_col), F.col("n_grp").alias("n_group"),
             F.col("n_glob").alias("n_global")]
    if test == "psi":
        return stats.select(*sizes, F.round(F.round("stat", 9), 6).alias("psi"),
                            (F.col("stat") > threshold).alias("drifted"))
    crit = F.lit(_c_alpha(alpha)) * F.sqrt(
        (F.col("n_grp") + F.col("n_glob")) / (F.col("n_grp") * F.col("n_glob")))
    return stats.select(*sizes, F.round("stat", 9).alias("ks_d"),
                        F.round(crit, 9).alias("threshold"),
                        (F.col("stat") > crit).alias("drifted"))


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 2048,
    alpha: float = 0.01,
) -> DataFrame:
    """(group, n_group, n_global, ks_d, threshold, drifted) per group.

    Each group is compared against the pooled global distribution: one
    fold over the group's grid carries both running sums and the largest
    ECDF gap seen so far.  Runs the ``drift_counts`` aggregate when
    called; the result is a local DataFrame.
    """
    return drift_table(df, value_col, group_col, lo, hi, n_buckets, "ks", alpha=alpha)


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 32,
    threshold: float = 0.2,
) -> DataFrame:
    """(group, n_group, n_global, psi, drifted) — Population Stability
    Index per group vs the pooled distribution:

        PSI = Σ_b (p_b − q_b) · ln(p_b / q_b)

    over fixed width_bucket bins with Laplace smoothing (+0.5 per bucket)
    so empty buckets stay finite.  The conventional industry reading:
    psi < 0.1 stable, 0.1–0.25 moderate, > 0.25 major shift; `drifted`
    flags psi > threshold.  Same shape as the binned KS check (the same
    one-scan aggregate, run when called, and the same driver-side fold).
    The terms fold in DETERMINISTIC bin order because float addition
    isn't associative and an arrival-order sum would wobble the oracle
    hash."""
    return drift_table(df, value_col, group_col, lo, hi, n_buckets, "psi", threshold=threshold)


def ks_drift_pandas(
    df: DataFrame,
    value_col: str,
    group_col: str,
    reference: list[float] | None = None,
    alpha: float = 0.01,
    max_sample: int = 1_000_000,
) -> DataFrame:
    """applyInPandas KS per group against a broadcast reference sample.

    reference=None ⇒ compare against a pooled sample — but ONLY for
    bounded inputs: the sample is collected driver-side, so (mirroring
    ``ivf_centroids``' max_sample guard) the input row count is checked
    first and the call fails fast when it exceeds ``max_sample``, telling
    the caller to pass an explicit downsampled ``reference`` instead of
    silently collecting 100k rows out of a 10^12-row table.  At scale
    callers always pass an explicit reference — the broadcast ECDF design
    from SURVEY.md §2.8."""
    import numpy as np

    if reference is None:
        n_in = df.count()
        if n_in > max_sample:
            raise ValueError(
                f"ks_drift_pandas: reference=None collects a driver-side "
                f"sample, but the input has {n_in} rows (> max_sample="
                f"{max_sample}); pass an explicit downsampled `reference` "
                f"list (the scale path) or raise max_sample deliberately")
        reference = [r[0] for r in df.select(value_col).sample(0.1, seed=42).limit(100_000).collect()]
    ref = sorted(float(x) for x in reference)
    c = _c_alpha(alpha)

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = np.sort(pdf[value_col].dropna().to_numpy(dtype=float))
        n, m = len(vals), len(ref)
        if n == 0 or m == 0:
            d = float("nan")
        else:
            ra = np.asarray(ref)
            all_v = np.concatenate([vals, ra])
            cdf1 = np.searchsorted(vals, all_v, side="right") / n
            cdf2 = np.searchsorted(ra, all_v, side="right") / m
            d = float(np.max(np.abs(cdf1 - cdf2)))
        thr = c * math.sqrt((n + m) / (n * m)) if n and m else float("nan")
        return pd.DataFrame(
            {group_col: [pdf[group_col].iloc[0]], "n_group": [n], "ks_d": [d],
             "threshold": [thr], "drifted": [bool(d > thr)]}
        )

    return df.select(group_col, value_col).groupBy(group_col).applyInPandas(
        ks, schema=f"{group_col} string, n_group long, ks_d double, threshold double, drifted boolean"
    )


def psi_violations(psi_df: DataFrame, group_col: str, value_col: str,
                   keyword_location: str = "/x-drift") -> DataFrame:
    return psi_df.filter(F.col("drifted")).select(
        F.lit(None).cast("string").alias("doc_id"),
        F.concat(F.lit(f"/{value_col}")).alias("instance_location"),
        F.lit(f"{keyword_location}/{value_col}").alias("keyword_location"),
        F.lit(None).cast("string").alias("absolute_keyword_location"),
        F.lit("x-drift").alias("keyword"),
        F.concat(
            F.lit(f"distribution of {value_col} for {group_col}="),
            F.col(group_col).cast("string"),
            F.lit(" shifted: PSI="), F.round("psi", 6).cast("string"),
        ).alias("error"),
        F.col(group_col).cast("string").alias("offending_value"),
    )


def drift_violations(drift_df: DataFrame, group_col: str, value_col: str,
                     keyword_location: str = "/x-drift") -> DataFrame:
    return drift_df.filter(F.col("drifted")).select(
        F.lit(None).cast("string").alias("doc_id"),
        F.concat(F.lit(f"/{value_col}")).alias("instance_location"),
        F.lit(f"{keyword_location}/{value_col}").alias("keyword_location"),
        F.lit(None).cast("string").alias("absolute_keyword_location"),
        F.lit("x-drift").alias("keyword"),
        F.concat(
            F.lit(f"distribution of {value_col} for {group_col}="),
            F.col(group_col).cast("string"),
            F.lit(" drifted: D="), F.round("ks_d", 6).cast("string"),
            F.lit(" > "), F.round("threshold", 6).cast("string"),
        ).alias("error"),
        F.col(group_col).cast("string").alias("offending_value"),
    )


def jsd_matrix(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
) -> DataFrame:
    """(source_a, source_b, n_tokens_a, n_tokens_b, jsd) — pairwise
    Jensen-Shannon divergence (natural log; 0 = identical, ln 2 = disjoint)
    between the token unigram distributions of every group pair — the
    source-similarity diagnostic behind mixture design (two near-identical
    sources add redundancy, not diversity) and drift forensics (which
    source moved away from the others).

    Decomposition that avoids materializing the full |S|×|V| grid per
    pair: with M = (P+Q)/2, tokens outside the support intersection
    contribute exactly 0.5·p·ln2 (resp. 0.5·q·ln2), so

        JSD(P,Q) = Σ_{t∈P∩Q} [0.5·p·ln(2p/(p+q)) + 0.5·q·ln(2q/(p+q))]
                 + 0.5·ln2 · (2 − Σ_{t∈P∩Q} p − Σ_{t∈P∩Q} q)

    and only the INTERSECTION rows ever join.  100 TB shape: unigram
    counts are one map-side-combined agg (shuffle ≤ |S|·|V| rows, V =
    tokenizer vocab); the pair join shuffles the per-source dists on
    token; totals and the |S|² pair grid are broadcast.  Per-pair terms
    fold in deterministic token order (array_sort + aggregate, the same
    pattern as `psi_drift`) so the result is bit-stable for the oracle.
    Disjoint-support pairs surface with jsd = ln 2 via the grid left-join.
    """
    ln2 = 0.6931471805599453
    counts = (
        df.select(F.col(group_col).alias("grp"),
                  F.explode(tokens_col).alias("token"))
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("grp").agg(F.sum("cnt").alias("n_tok"))
    dist = (
        counts.join(F.broadcast(totals), "grp")
        .select("grp", "token",
                (F.col("cnt") / F.col("n_tok")).alias("p"))
    )
    a = dist.select(F.col("grp").alias("grp_a"), "token",
                    F.col("p").alias("pa"))
    b = dist.select(F.col("grp").alias("grp_b"), F.col("token"),
                    F.col("p").alias("pb"))
    pa, pb = F.col("x.pa"), F.col("x.pb")
    term = (
        0.5 * pa * F.log(2.0 * pa / (pa + pb))
        + 0.5 * pb * F.log(2.0 * pb / (pa + pb))
    )
    inter = (
        a.join(b, "token")
        .where(F.col("grp_a") < F.col("grp_b"))
        .select("grp_a", "grp_b",
                F.struct("token", "pa", "pb").alias("x"))
        .select("grp_a", "grp_b", F.col("x.token").alias("token"),
                term.alias("term"), pa.alias("pa"), pb.alias("pb"))
        .groupBy("grp_a", "grp_b")
        .agg(F.array_sort(
            F.collect_list(F.struct("token", "term", "pa", "pb"))
        ).alias("arr"))
        .select(
            "grp_a", "grp_b",
            F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["term"]).alias("tsum"),
            F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["pa"]).alias("pasum"),
            F.aggregate("arr", F.lit(0.0), lambda acc, x: acc + x["pb"]).alias("pbsum"),
        )
    )
    grid = (
        totals.select(F.col("grp").alias("grp_a"), F.col("n_tok").alias("n_tokens_a"))
        .crossJoin(F.broadcast(totals.select(F.col("grp").alias("grp_b"),
                                             F.col("n_tok").alias("n_tokens_b"))))
        .where(F.col("grp_a") < F.col("grp_b"))
    )
    return (
        grid.join(inter, ["grp_a", "grp_b"], "left_outer")
        .select(
            F.col("grp_a").alias("source_a"),
            F.col("grp_b").alias("source_b"),
            "n_tokens_a", "n_tokens_b",
            F.round(
                F.coalesce(F.col("tsum"), F.lit(0.0))
                + 0.5 * ln2 * (2.0 - F.coalesce(F.col("pasum"), F.lit(0.0))
                               - F.coalesce(F.col("pbsum"), F.lit(0.0))),
                6,
            ).alias("jsd"),
        )
    )


def chi2_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 32,
    threshold: float = 2.0,
) -> DataFrame:
    """(group, n_group, n_global, chi2_per_df, drifted) — Pearson
    chi-square goodness-of-fit per group against the pooled distribution
    over fixed width_bucket bins:

        X² = Σ_b (o_b − e_b)² / e_b,   e_b = n_grp · q_b

    with Laplace smoothing on the pooled proportions q_b (+0.5 per seen
    bucket) so empty global cells stay finite; reported normalized by
    degrees of freedom (seen buckets − 1), so `drifted = X²/df >
    threshold` reads on the familiar reduced-chi-square scale (≈1 when
    the group matches the pool, threshold defaults to a loose 2.0).
    The L2-flavored sibling of `psi_drift` (log-ratio): chi-square
    over-weights cells where the pool is thin, PSI weights by the
    probability mass that moved — running both separates "rare bucket
    exploded" from "bulk shifted".

    100 TB shape: identical to psi_drift — one groupBy(group, bucket)
    count (map-side combined, shuffle ≤ |groups|×(B+2) rows), broadcast
    global totals, and the per-group fold runs over ≤ B+2 rows in
    deterministic bucket order (array_sort + aggregate) for a bit-stable
    oracle hash."""
    b = F.width_bucket(F.col(value_col).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets))
    binned = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), b.alias("bucket"))
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    glob = binned.groupBy("bucket").agg(F.sum("cnt").alias("gcnt"))
    totals = binned.groupBy("grp").agg(F.sum("cnt").alias("n_grp"))
    n_global = glob.agg(F.sum("gcnt").alias("n_glob"))
    nb = glob.agg(F.count(F.lit(1)).alias("n_buckets_seen"))

    full = (
        binned.select("grp").distinct()
        .crossJoin(F.broadcast(glob.select("bucket", "gcnt")))
        .join(binned, ["grp", "bucket"], "left_outer")
        .select("grp", "bucket", F.coalesce("cnt", F.lit(0)).alias("cnt"), "gcnt")
    )
    q = (F.col("gcnt") + F.lit(0.5)) / (F.col("n_glob") + F.lit(0.5) * F.col("n_buckets_seen"))
    e = F.col("n_grp") * q
    term = (F.col("cnt") - e) * (F.col("cnt") - e) / e
    stats = (
        full.join(F.broadcast(totals), "grp")
        .crossJoin(F.broadcast(n_global))
        .crossJoin(F.broadcast(nb))
        .select("grp", "bucket", "n_grp", "n_glob", "n_buckets_seen",
                term.alias("term"))
        .groupBy("grp", "n_grp", "n_glob", "n_buckets_seen")
        .agg(F.aggregate(
            F.array_sort(F.collect_list(F.struct("bucket", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2"))
    )
    per_df = F.col("chi2") / F.greatest(F.col("n_buckets_seen") - 1, F.lit(1))
    return stats.select(
        F.col("grp").alias(group_col),
        F.col("n_grp").alias("n_group"),
        F.col("n_glob").alias("n_global"),
        F.round(F.round(per_df, 9), 6).alias("chi2_per_df"),
        (per_df > threshold).alias("drifted"),
    )


def rank_corr_matrix(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    top_k: int = 2000,
) -> DataFrame:
    """(source_a, source_b, n_common, rho) — pairwise Spearman rank
    correlation between the token frequency RANKINGS of every group
    pair, over the intersection of each group's top_k tokens.  The
    rank-space complement of `jsd_matrix`: JSD is dominated by the
    high-probability head, while rank correlation asks whether two
    sources ORDER their vocabulary the same way even when absolute
    frequencies differ (e.g. same language, different register).  Ranks
    are dense row_numbers by (count DESC, token ASC) — a deterministic
    total order, so the statistic is exactly reproducible.

    rho = Pearson correlation of the two integer rank columns computed
    from exact integer sums (n·Σxy − Σx·Σy) / sqrt(...), so no float
    fold order matters — plain groupBy sums are bit-stable.  Pairs with
    n_common < 2 or zero rank variance within the intersection yield
    rho = NULL.

    100 TB shape: unigram counts are one map-side-combined agg (shuffle
    ≤ |groups|·|vocab|); the rank window partitions by group over the
    already-aggregated ≤|vocab| count rows; top_k caps the pair join at
    |groups|·top_k rows a side.  The |groups|² grid never materializes —
    only intersections join, keyed on token."""
    counts = (
        df.select(F.col(group_col).alias("grp"),
                  F.explode(tokens_col).alias("token"))
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("token"))
    ranked = (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= top_k)
        .select("grp", "token", F.col("r").cast("long").alias("r"))
    )
    a = ranked.select(F.col("grp").alias("source_a"), "token", F.col("r").alias("ra"))
    b = ranked.select(F.col("grp").alias("source_b"), F.col("token"), F.col("r").alias("rb"))
    sums = (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("ra").alias("sx"), F.sum("rb").alias("sy"),
            F.sum(F.col("ra") * F.col("ra")).alias("sxx"),
            F.sum(F.col("rb") * F.col("rb")).alias("syy"),
            F.sum(F.col("ra") * F.col("rb")).alias("sxy"),
        )
    )
    n = F.col("n_common")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    rho = F.when((n >= 2) & (vx > 0) & (vy > 0),
                 cov / F.sqrt(vx.cast("double") * vy.cast("double")))
    return sums.select(
        "source_a", "source_b", n.alias("n_common"),
        F.round(rho, 6).alias("rho"),
    )
