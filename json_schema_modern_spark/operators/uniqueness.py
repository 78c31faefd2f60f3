"""Cross-row uniqueness — the scale generalization of `uniqueItems`.

The reference's uniqueItems is per-array O(n²) pairwise equality
(Utilities.pm:308-318); cross-row uniqueness of doc_id at 10^12 rows is a
distributed problem the reference never faces.  Strategy: one exact hash
aggregate on the key.  Map-side combine collapses every key to one
(key, count) row per input partition before the shuffle — the minimum any
exact check can move — and the shuffle is keyed by the key itself, so
duplicates colocate.  A hot key costs one row per partition, not one per
duplicate; AQE splits any residual partition skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact duplicates: (key cols..., dup_count) for keys occurring >1×."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_violations(
    df: DataFrame,
    cols: list[str],
    keyword_location: str = "/x-unique",
) -> DataFrame:
    """Violation rows for duplicated keys, in the engine's violation schema.

    Emits one row per duplicated key value (not per duplicate row) — at
    scale a hot duplicate could otherwise explode the output."""
    dups = duplicate_keys(df, cols)
    key_json = F.to_json(F.struct(*[F.col(c) for c in cols]))
    return dups.select(
        F.col(cols[0]).cast("string").alias("doc_id"),
        F.lit("").alias("instance_location"),
        F.lit(f"{keyword_location}/{','.join(cols)}").alias("keyword_location"),
        F.lit(None).cast("string").alias("absolute_keyword_location"),
        F.lit("x-unique").alias("keyword"),
        F.concat(F.lit("key occurs "), F.col("dup_count").cast("string"), F.lit(" times")).alias("error"),
        key_json.alias("offending_value"),
    )
