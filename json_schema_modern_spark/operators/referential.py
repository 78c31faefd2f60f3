"""Referential-integrity checks (foreign key ∈ dimension).

The data-plane analogue of the reference's $ref resolution through its
resource index (Modern.pm:1114-1174): there the symbol table is tiny and
the lookup is per-schema-node; here the "symbol table" is a dimension table
and the lookup must be a distributed anti-join.

Two physical paths, chosen by dimension size (SURVEY.md §2.8):

- **broadcast** (default): dims like a source dictionary are KBs; the anti
  join runs map-side with ZERO shuffle of the fact table.  This is the
  100 TB-safe path — fact rows never move.
- **sort-merge with explicit skew salting**: for dimensions too big to
  broadcast. The fact side appends a random-ish salt in [0,S) derived from
  doc hash; the dim side explodes ×S. A skewed fact key (0.55 of rows =
  'web') then spreads over S reducers instead of one. AQE's skew-join
  handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def missing_references(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    strategy: str = "broadcast",
    n_salts: int = 32,
) -> DataFrame:
    """Rows of `fact` whose `fact_col` has no match in `dim.dim_col`.
    NULL fact keys are not referential violations (they're `required`'s
    problem), matching SQL FK semantics."""
    f = fact.filter(F.col(fact_col).isNotNull())
    if strategy == "broadcast":
        # no distinct(): an anti join ignores duplicate dim keys, and a
        # distinct costs the dictionary a shuffle stage before the broadcast
        return f.join(
            F.broadcast(dim.select(dim_col)),
            on=f[fact_col] == dim[dim_col],
            how="left_anti",
        )
    if strategy == "sortmerge":
        # salt the fact side; replicate the dim side ×n_salts so every
        # (key, salt) partition finds its dim row locally
        salted_fact = f.withColumn("_salt", F.pmod(F.xxhash64(*f.columns), F.lit(n_salts)))
        salted_dim = (
            dim.select(dim_col).distinct()
            .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
            .withColumn("_salt", F.col("_salt").cast("long"))
        )
        joined = salted_fact.join(
            salted_dim,
            on=[salted_fact[fact_col] == salted_dim[dim_col], salted_fact["_salt"] == salted_dim["_salt"]],
            how="left_anti",
        )
        return joined.drop("_salt")
    raise ValueError(f"unknown strategy {strategy!r}")


def reference_missing(fact_col: str, dim: DataFrame, dim_col: str) -> Column:
    """Per-row form of the broadcast anti join, for a projection over the
    fact table: true when ``fact_col`` is non-NULL and no ``dim.dim_col``
    equals it.  The correlated EXISTS plans as an existence join (a
    broadcast hash join for a small dictionary), which neither drops nor
    duplicates fact rows, and whose equality never matches a NULL
    dictionary entry — the anti join's rule."""
    # behind an alias the dictionary's own columns are out of reach, so the
    # outer name cannot bind to a dictionary column of the same name
    keys = F.broadcast(dim.select(F.col(dim_col).alias("key"))).alias("_ref")
    found = keys.where(F.col("_ref.key") == F.col(fact_col).outer()).exists()
    return F.col(fact_col).isNotNull() & ~found


def violation_fields(fact_col: str, keyword_location: str = "/x-ref") -> list[Column]:
    """The violation columns of a missing reference in ``fact_col``."""
    return [
        F.lit(f"/{fact_col}").alias("instance_location"),
        F.lit(f"{keyword_location}/{fact_col}").alias("keyword_location"),
        F.lit(None).cast("string").alias("absolute_keyword_location"),
        F.lit("x-ref").alias("keyword"),
        F.lit(f"value not found in reference dictionary for {fact_col}").alias("error"),
        F.col(fact_col).cast("string").alias("offending_value"),
    ]


def referential_violations(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    id_col: str = "doc_id",
    keyword_location: str = "/x-ref",
    strategy: str = "broadcast",
) -> DataFrame:
    missing = missing_references(fact, fact_col, dim, dim_col, strategy=strategy)
    return missing.select(F.col(id_col).cast("string").alias("doc_id"),
                          *violation_fields(fact_col, keyword_location))
