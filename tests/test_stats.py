

def test_correlation_matrix_hand_case(spark):
    from json_schema_modern_spark.operators.stats import correlation_matrix

    # y = 2x exactly -> corr 1; z anti-monotone with x -> corr -1;
    # w constant -> zero variance -> NULL corr; one row has a NULL y
    # (pairwise-complete: the x~y pair must use n=4, the others n=5)
    rows = [
        (1.0, 2.0, 5.0, 3.0),
        (2.0, 4.0, 4.0, 3.0),
        (3.0, 6.0, 3.0, 3.0),
        (4.0, 8.0, 2.0, 3.0),
        (5.0, None, 1.0, 3.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    got = {(r.col_x, r.col_y): r for r in
           correlation_matrix(df, ["x", "y", "z", "w"]).collect()}
    assert got[("x", "y")].n == 4 and got[("x", "y")].corr == 1.0
    assert got[("x", "z")].n == 5 and got[("x", "z")].corr == -1.0
    assert got[("x", "w")].corr is None          # zero variance
    assert got[("y", "z")].corr == -1.0
    assert len(got) == 6


def test_correlation_matrix_partition_invariant(spark):
    from json_schema_modern_spark.operators.stats import correlation_matrix

    rows = [(float(i), float((i * 7) % 13), float((i * 3) % 5))
            for i in range(200)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    one = [tuple(r) for r in
           correlation_matrix(df.coalesce(1), ["a", "b", "c"]).collect()]
    many = [tuple(r) for r in
            correlation_matrix(df.repartition(11), ["a", "b", "c"]).collect()]
    # DECIMAL(38,0) moment sums => bit-identical under any partitioning
    assert one == many


def test_correlation_matrix_overflow_guard(spark):
    import pytest
    from json_schema_modern_spark.operators.stats import correlation_matrix

    df = spark.createDataFrame(
        [(5.0e7, 1.0), (6.0e7, 2.0)], "a double, b double")
    # |a*100| = 6e9 > 3e9: the int64 product would wrap silently;
    # the assert_true guard must fail loudly instead
    with pytest.raises(Exception, match="correlation_matrix"):
        correlation_matrix(df, ["a", "b"]).collect()
    # nulls pass through the guard (condition null-safe)
    df2 = spark.createDataFrame(
        [(1.0, None), (2.0, 2.0)], "a double, b double")
    assert correlation_matrix(df2, ["a", "b"]).count() == 1


def test_column_stats_sketch_within_error_bound(spark):
    """distinct_count is an HLL estimate (lg_k=14, RSE ≈ 0.8%): within 3
    RSE of the exact count, NULLs excluded, also for the types the sketch
    cannot take directly (double, date, boolean go through xxhash64)."""
    from json_schema_modern_spark.operators.stats import HLL_LG_K, column_stats

    df = spark.range(60000).selectExpr(
        "CAST(id % 17011 AS INT) AS i",
        "IF(id % 10 = 0, NULL, (id % 23011) * 0.5D) AS d",
        "IF(id % 7 = 0, NULL, date_add(DATE'2000-01-01', CAST(id % 9001 AS INT))) AS dt",
        "IF(id % 5 = 0, NULL, id % 3 = 0) AS b",
        "IF(id % 11 = 0, NULL, concat('s', id % 31013)) AS s",
    )
    cols = df.columns
    est = {r.column: r.distinct_count for r in column_stats(df, cols).collect()}
    exact = {r.column: r.distinct_count
             for r in column_stats(df, cols, exact_distinct=True).collect()}
    rse = 1.04 / (2 ** HLL_LG_K) ** 0.5
    assert exact["b"] == 2
    for c in cols:
        assert abs(est[c] - exact[c]) <= 3 * rse * exact[c], (c, est[c], exact[c])
    plan = column_stats(df, cols)._jdf.queryExecution().executedPlan().toString()
    assert "HyperLogLogPlusPlus" not in plan
