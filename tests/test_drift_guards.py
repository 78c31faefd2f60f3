"""Drift-operator guards and determinism.

- psi_drift: the window-free fold must reproduce the DuckDB cumulative
  sum bit-for-bit (deterministic bucket-order addition) — the exact
  comparison the driver gate runs for `drift_psi` at sf0.01.
- ks_drift_pandas: reference=None collects a driver-side sample, so the
  input row count is guarded (mirrors ivf_centroids' max_sample
  fail-fast) — the scale footgun from the round-4 verdict.
- resume_from: same workdir normalization as __init__ (file:// stripped,
  remote URIs rejected with the explicit error, not an opaque ENOENT).
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F


def test_psi_drift_matches_duckdb_cumulative(spark):
    from json_schema_modern_spark.operators.drift import psi_drift

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {r.source: (r.n_group, r.n_global, r.psi, r.drifted)
           for r in psi_drift(docs, "n_chars", "source",
                              0.0, 600.0, 30, threshold=0.2).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'")
    oracle = con.execute("""
WITH binned AS (
  SELECT source AS grp,
         CASE WHEN n_chars < 0 THEN 0 WHEN n_chars >= 600 THEN 31
              ELSE CAST(floor(n_chars/20.0) AS BIGINT) + 1 END AS bucket,
         count(*) AS cnt
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
gtot AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS gcnt FROM binned GROUP BY 1),
totals AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_grp FROM binned GROUP BY 1),
nglob AS (SELECT CAST(sum(gcnt) AS BIGINT) AS n_glob FROM gtot),
nb AS (SELECT count(*) AS n_buckets_seen FROM gtot),
full_grid AS (
  SELECT g.grp, gl.bucket, coalesce(b.cnt, 0) AS cnt, gl.gcnt
  FROM (SELECT DISTINCT grp FROM binned) g
  CROSS JOIN gtot gl
  LEFT JOIN binned b ON b.grp = g.grp AND b.bucket = gl.bucket),
terms AS (
  SELECT f.grp, f.bucket, t.n_grp, n.n_glob,
         ((f.cnt + 0.5) / (t.n_grp + 0.5 * nb.n_buckets_seen)
          - (f.gcnt + 0.5) / (n.n_glob + 0.5 * nb.n_buckets_seen))
         * ln(((f.cnt + 0.5) / (t.n_grp + 0.5 * nb.n_buckets_seen))
              / ((f.gcnt + 0.5) / (n.n_glob + 0.5 * nb.n_buckets_seen))) AS term
  FROM full_grid f JOIN totals t ON f.grp = t.grp CROSS JOIN nglob n CROSS JOIN nb),
cum AS (
  SELECT grp, bucket, n_grp, n_glob,
         sum(term) OVER (PARTITION BY grp ORDER BY bucket) AS cpsi
  FROM terms)
SELECT grp, n_grp, n_glob,
       CAST(round(round(arg_max(cpsi, bucket), 9), 6) AS DOUBLE) AS psi,
       arg_max(cpsi, bucket) > 0.2 AS drifted
FROM cum GROUP BY 1, 2, 3
""").fetchall()
    assert oracle
    for grp, n_grp, n_glob, psi, drifted in oracle:
        assert out[grp] == (n_grp, n_glob, psi, drifted), grp


def test_psi_drift_plan_has_no_window(spark):
    """The determinism fold must live inside the single aggregation —
    no Window exchange+sort in the physical plan."""
    from json_schema_modern_spark.operators.drift import psi_drift

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = psi_drift(docs, "n_chars", "source", 0.0, 600.0, 30) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_ks_drift_pandas_guard_fires(spark):
    from json_schema_modern_spark.operators.drift import ks_drift_pandas

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="max_sample"):
        ks_drift_pandas(docs, "n_chars", "source", max_sample=10)
    # explicit reference bypasses the guard entirely (the scale path)
    out = ks_drift_pandas(docs.limit(50), "n_chars", "source",
                          reference=[10.0, 20.0, 400.0], max_sample=1)
    assert out.count() > 0


def test_resume_from_workdir_normalization(tmp_path):
    from json_schema_modern_spark.plans.pipeline import ValidationPipeline

    with pytest.raises(ValueError, match="local filesystem"):
        ValidationPipeline.resume_from("hdfs://nn/checkpoints/run1")
    # file:// prefix is stripped, then the manifest open fails with the
    # normalized LOCAL path (not a file:/... ENOENT)
    with pytest.raises(FileNotFoundError) as exc:
        ValidationPipeline.resume_from(f"file://{tmp_path}/nope")
    assert "file://" not in str(exc.value)


def test_ks_drift_matches_python_binned_ks(spark):
    """The one-scan KS equals a plain-Python binned KS: every group is
    compared with the pool at EVERY pooled bucket — including buckets the
    group never occupies — and NULL values / a NULL group are handled as
    documented (values skipped; the NULL group pools but gets no row)."""
    import math

    from json_schema_modern_spark.operators.drift import _c_alpha, ks_drift

    rows = ([("a", v) for v in [0, 1, 1, 2, 3, 3, 3, 9, None]]
            + [("b", v) for v in [5, 5, 6, 7, 7, 8, 12, -1]]
            + [("c", v) for v in [1, 1, 1, None]]      # empty in most buckets
            + [(None, v) for v in [4, 4, 9]])
    df = spark.createDataFrame(rows, "src string, v int")
    lo, hi, n = 0.0, 10.0, 10
    got = {r.src: r for r in ks_drift(df, "v", "src", lo, hi, n, alpha=0.05).collect()}

    def bucket(v):
        return 0 if v < lo else n + 1 if v >= hi else int((v - lo) / (hi - lo) * n) + 1

    binned = [(g, bucket(v)) for g, v in rows if v is not None]
    pooled = sorted({b for _, b in binned})
    n_glob = len(binned)
    assert set(got) == {"a", "b", "c"}
    for g in ("a", "b", "c"):
        mine = [b for gg, b in binned if gg == g]
        d = max(abs(sum(1 for x in mine if x <= b) / len(mine)
                    - sum(1 for _, x in binned if x <= b) / n_glob) for b in pooled)
        thr = _c_alpha(0.05) * math.sqrt((len(mine) + n_glob) / (len(mine) * n_glob))
        r = got[g]
        assert (r.n_group, r.n_global) == (len(mine), n_glob), g
        assert math.isclose(r.ks_d, d, abs_tol=1e-9), (g, r.ks_d, d)
        assert math.isclose(r.threshold, thr, abs_tol=1e-9)
        assert r.drifted == (d > thr)


def test_drift_skips_nan_like_null(spark):
    """KS and PSI drift skip NaN values the way they skip NULLs
    (docs/DEVIATIONS.md): adding NaN rows leaves every result row as is."""
    from json_schema_modern_spark.operators.drift import ks_drift, psi_drift

    base = [("a", float(v)) for v in (0, 1, 1, 2, 3)] \
        + [("b", float(v)) for v in (5, 6, 7, 7)]
    with_nan = base + [("a", float("nan")), ("b", float("nan"))]
    for drift in (ks_drift, psi_drift):
        def result(rows):
            df = spark.createDataFrame(rows, "src string, v double")
            return sorted(tuple(r) for r in drift(df, "v", "src", 0.0, 10.0, 10).collect())
        assert result(with_nan) == result(base), drift.__name__
