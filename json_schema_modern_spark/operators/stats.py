"""Single-pass column statistics (SURVEY.md §2.8 aggregations).

One `agg()` with every measure → ONE scan, ONE partial+final aggregate
(map-side combine, no shuffle of raw rows — only of per-partition partial
states, which is O(partitions), not O(rows)).  At 10^12 rows this is the
only shape that works: never one job per column.

approx-distinct uses the built-in DataSketches HLL aggregate
(hll_sketch_agg): at the same ~1% error it costs a fraction of
approx_count_distinct's HyperLogLog++ update.  Histograms use fixed-width
buckets computed with width_bucket so the per-row work is a single
multiply — not histogram_numeric, whose per-row state merge is heavier and
non-deterministic across partition orders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# HLL sketch size: 2^14 registers, relative standard error
# 1.04/sqrt(2^14) ≈ 0.8%
HLL_LG_K = 14


STATS_SCHEMA = ("column string, n_rows long, null_count long, null_fraction double, "
                "min string, max string, distinct_count long")


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """stats(column, n_rows, null_count, null_fraction, min, max, distinct_count)

    distinct_count is an HLL sketch estimate (``HLL_LG_K``), NULLs
    excluded.  exact_distinct=True swaps the sketch for exact
    count(DISTINCT) — used by the DuckDB-oracle correctness gate.
    """
    cols = columns or df.columns
    row = df.agg(*stats_aggs(df, cols, exact_distinct))

    # unpivot the single wide row into (column, measures...) — driver-free
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("null_count"),
            (F.col(f"{c}__nulls") / F.col("_n")).alias("null_fraction"),
            F.col(f"{c}__min").alias("min"),
            F.col(f"{c}__max").alias("max"),
            F.col(f"{c}__dist").alias("distinct_count"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def stats_aggs(df: DataFrame, cols: list[str], exact_distinct: bool = False) -> list[Column]:
    """The aggregates behind ``column_stats``: ``_n`` and, per column,
    ``<c>__nulls``, ``<c>__min``, ``<c>__max`` and ``<c>__dist`` — one list
    for a ``df.agg`` or an ``Observation`` on another aggregate's scan."""
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        # min/max in the column's native ordering, cast to string only for
        # the unified output row (casting first would sort lexicographically)
        aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__max"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__dist"))
        else:
            # the union of the sketch with itself makes the estimate a
            # function of the registers alone (the composite estimator):
            # a sketch built by merging partial sketches carries an
            # estimate that depends on the merge order otherwise
            sketch = F.hll_sketch_agg(_sketchable(c, types[c]), HLL_LG_K)
            aggs.append(F.hll_sketch_estimate(F.hll_union(sketch, sketch)).alias(f"{c}__dist"))
    return aggs


def stats_rows(values: dict, cols: list[str]) -> list[tuple]:
    """``column_stats`` rows (``STATS_SCHEMA``) from the ``stats_aggs``
    values, unpivoted on the driver; null_fraction is the same double
    division Spark does (NULL for an empty input)."""
    n = values["_n"]
    return [(c, n, values[f"{c}__nulls"],
             None if values[f"{c}__nulls"] is None else float(values[f"{c}__nulls"]) / float(n),
             values[f"{c}__min"], values[f"{c}__max"], values[f"{c}__dist"])
            for c in cols]


def _sketchable(c: str, dtype: T.DataType):
    """hll_sketch_agg takes INT, BIGINT, STRING and BINARY; any other type
    is sketched through its xxhash64, NULL-guarded because xxhash64(NULL)
    is the seed, not NULL."""
    if isinstance(dtype, (T.IntegerType, T.LongType, T.StringType, T.BinaryType)):
        return F.col(c)
    return F.when(F.col(c).isNotNull(), F.xxhash64(c))


def numeric_quantiles(
    df: DataFrame,
    columns: list[str],
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """(column, p, q) — per-column percentiles, one scan for all columns.

    exact=True uses Spark's sort-free exact percentile aggregate (a
    value→count map per partition, merged at the driver side of the agg) —
    right when per-column cardinality is bounded (token lengths, prices,
    categorical-ish numerics) and for oracle checking (linear
    interpolation, same formula as DuckDB's quantile_cont).  For unbounded
    high-cardinality columns at 10^12 rows, exact=False swaps in
    percentile_approx (bounded-memory KLL-style sketch, `accuracy`
    trades error for state size) — same plan shape, sketch-sized state."""
    parr = F.array(*[F.lit(float(p)) for p in probs])
    aggs = []
    for c in columns:
        col = F.col(c).cast("double")
        q = (F.percentile(col, parr) if exact
             else F.percentile_approx(col, parr, F.lit(accuracy)))
        aggs.append(q.alias(f"{c}__q"))
    row = df.agg(*aggs)
    structs = [
        F.struct(F.lit(c).alias("column"), F.lit(float(p)).alias("p"),
                 F.round(F.col(f"{c}__q")[i], 6).alias("q"))
        for c in columns
        for i, p in enumerate(probs)
    ]
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def segmented_stats(
    df: DataFrame,
    seg_col: str,
    column: str,
) -> DataFrame:
    """(segment, n_rows, null_count, min, max, mean) — the per-source
    rollup of one numeric column: a single partial-aggregated groupBy on
    the (low-cardinality) segment key, shuffle volume = one row per
    (partition, segment)."""
    c = F.col(column)
    return (
        df.groupBy(F.col(seg_col).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(c.isNull().cast("long")).alias("null_count"),
            F.min(c).cast("double").alias("min"),
            F.max(c).cast("double").alias("max"),
            F.round(F.avg(c), 6).alias("mean"),
        )
    )


def numeric_histogram(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_buckets: int = 32,
) -> DataFrame:
    """Fixed-width histogram: hist(bucket, lo, hi, cnt).

    width_bucket is a pure arithmetic per-row expression → partial-agg
    groupBy on a small integer key: shuffle volume = n_buckets rows per
    partition, independent of data size.  Bucket 0 = underflow,
    n_buckets+1 = overflow (width_bucket semantics)."""
    edges = histogram_edges(F.col("bucket"), lo, hi, n_buckets)
    return (
        df.select(histogram_bin(column, lo, hi, n_buckets).alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("bucket", edges[0].alias("lo"), edges[1].alias("hi"), "cnt")
    )


def histogram_bin(column: str, lo: float, hi: float, n_buckets: int) -> Column:
    """The width_bucket bin of ``column``: 0 = underflow, n_buckets+1 =
    overflow, NULL for NULL or NaN."""
    return F.width_bucket(F.col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets))


def histogram_edges(bucket, lo: float, hi: float, n_buckets: int):
    """(lo, hi) edges of width_bucket bin ``bucket`` — a Column, or a bin
    number counted on the driver; both evaluate the same IEEE operations."""
    width = (hi - lo) / n_buckets
    return lo + (bucket - 1) * width, lo + bucket * width


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    scale: int = 100,
) -> DataFrame:
    """(col_x, col_y, n, corr) for every unordered column pair — the
    Pearson correlation matrix in ONE map-side-combined pass (no
    corr()/covar per-pair jobs, no second scan).

    Exactness discipline: values are quantized to integers
    (round(x·scale), for data with known decimal precision this is
    lossless) and all six moment sums per pair (n, Σx, Σy, Σxy, Σx²,
    Σy²) accumulate in DECIMAL(38,0) — integer addition is associative,
    so the sums are partition-order exact and the DuckDB oracle (HUGEINT
    sums) reproduces them bit-for-bit.  Pearson correlation is invariant
    under the affine quantization, and the closed-form
    (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) is evaluated in double
    from identical integer operands on both engines.  Pairwise-complete
    semantics: each pair's sums run over rows where BOTH columns are
    non-null; zero variance yields NULL corr.

    100 TB shape: one aggregate, |pairs|·6 partial states per partition,
    output |pairs| rows assembled driver-free via a literal-struct
    explode over the single agg row.  Known trade: DECIMAL(38,0)
    aggregation buffers are not mutable fixed-width, so the
    HashAggregate itself runs outside whole-stage codegen — the price
    of exactness (int64 partials overflow at 10^12-row product sums);
    the per-row term computation is split into codegen'd projections —
    quantize+guard once per COLUMN, then pair terms over those
    attributes — so only the 36 trivial sums pay the interpreted path
    (measured 1.9 s over 600k×4 columns vs 5.3 s with the terms folded
    into the aggregate functions and 4.9 s with the guarded
    quantization inlined per pair)."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    dec = "decimal(38,0)"
    # quantize each column ONCE as a LONG (codegen'd; reused by every
    # pair via CSE) and keep per-row PRODUCTS in long arithmetic — a
    # quantized value is <= ~1e9 for any realistic measure, so the
    # product fits int64 with room; only the SUM accumulates in
    # DECIMAL(38,0), where int64 partials would overflow at 10^12 rows.
    # (An all-decimal formulation — per-row BigDecimal multiplies — was
    # measured 4x slower on the same input.)
    # Two stages, both codegen'd: a PROJECTION computes every per-row
    # term as a long (guards, quantization, products — Catalyst CSE
    # shares the per-column quantization across pairs), and the
    # aggregate is then 36 trivial sum(attribute) calls.  Folding the
    # full expression trees into the aggregate functions instead pushes
    # the generated update method past the JIT/codegen size limits and
    # the whole pass falls back to interpreted (measured 4-6x slower).
    # int64 product safety: |q| must stay <= 3e9 so q*q <= 9e18 < 2^63-1.
    # Exceeding it would WRAP SILENTLY under non-ANSI arithmetic and
    # poison the sums — fail loudly instead (assert_true folded into the
    # value via coalesce so Catalyst cannot prune the check away).
    q_lim = 3_000_000_000

    def _q(c):
        q = F.round(F.col(c) * scale).cast("long")
        guard = F.assert_true(
            q.isNull() | (F.abs(q) <= F.lit(q_lim)),
            F.lit(f"correlation_matrix: |{c}*{scale}| exceeds {q_lim}; "
                  "lower `scale` to keep int64 products exact"))
        return q + F.coalesce(guard.cast("long"), F.lit(0))

    # quantize + guard each column ONCE in its own projection — inlining
    # the guarded subtree into the 36 pair expressions below multiplies
    # the per-row work 9x (measured 2.8 -> 4.9 s)
    qdf = df.select(*[_q(c).alias(f"q_{c}") for c in cols])
    proj = []
    for a, b in pairs:
        both = F.col(f"q_{a}").isNotNull() & F.col(f"q_{b}").isNotNull()
        qa = F.when(both, F.col(f"q_{a}"))
        qb = F.when(both, F.col(f"q_{b}"))
        p = f"{a}__{b}"
        proj += [
            F.when(both, 1).otherwise(0).alias(f"c_{p}"),
            qa.alias(f"x_{p}"), qb.alias(f"y_{p}"),
            (qa * qb).alias(f"xy_{p}"),
            (qa * qa).alias(f"xx_{p}"), (qb * qb).alias(f"yy_{p}"),
        ]
    pdf = qdf.select(*proj)
    aggs = []
    for a, b in pairs:
        p = f"{a}__{b}"
        aggs += [
            F.sum(f"c_{p}").cast("long").alias(f"n_{p}"),
            F.sum(F.col(f"x_{p}").cast(dec)).alias(f"sx_{p}"),
            F.sum(F.col(f"y_{p}").cast(dec)).alias(f"sy_{p}"),
            F.sum(F.col(f"xy_{p}").cast(dec)).alias(f"sxy_{p}"),
            F.sum(F.col(f"xx_{p}").cast(dec)).alias(f"sxx_{p}"),
            F.sum(F.col(f"yy_{p}").cast(dec)).alias(f"syy_{p}"),
        ]
    row = pdf.agg(*aggs)

    def corr_expr(p):
        n = F.col(f"n_{p}").cast("double")
        sx = F.col(f"sx_{p}").cast("double")
        sy = F.col(f"sy_{p}").cast("double")
        sxy = F.col(f"sxy_{p}").cast("double")
        sxx = F.col(f"sxx_{p}").cast("double")
        syy = F.col(f"syy_{p}").cast("double")
        den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        return F.round((n * sxy - sx * sy)
                       / F.when(den != 0, den), 6)

    out = row.select(F.explode(F.array(*[
        F.struct(F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
                 F.col(f"n_{a}__{b}").alias("n"),
                 corr_expr(f"{a}__{b}").alias("corr"))
        for a, b in pairs
    ])).alias("r")).select("r.col_x", "r.col_y", "r.n", "r.corr")
    return out.orderBy("col_x", "col_y")
