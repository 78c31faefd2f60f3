"""Gap-based event sessionization (batch analogue of Structured
Streaming's session windows).

Scale shape: ONE shuffle — hash-partition by the user key — then an
in-partition sort feeds both window functions and the final per-session
aggregate without any further exchange (Catalyst reuses the
(user, ts)-ordering for lag, the running sum, and the groupBy).  Memory
is bounded by the largest single user's event count, NOT the table size —
window keys cannot be split, so a pathological single-key hot spot is the
one residual risk; at that point pre-split sessions per (user, day) and
stitch boundaries, the standard two-phase fix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch_s(c: Column) -> Column:
    """Truncated epoch seconds.  TIMESTAMP_NTZ cannot cast to long
    directly; via timestamp_ltz the naive value is interpreted in the
    session timezone (the engine pins UTC — session.py), matching how
    DuckDB's epoch() reads a naive timestamp."""
    return c.cast("timestamp_ltz").cast("long")


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Assign a per-user session index: a new session starts when the gap
    to the previous event exceeds `gap_minutes`.  Adds `session_idx`
    (1-based per user, in time order)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id") \
        if "event_id" in df.columns else Window.partitionBy(user_col).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    gap_s = int(gap_minutes * 60)
    new_sess = (
        prev.isNull()
        | ((_epoch_s(F.col(ts_col)) - _epoch_s(prev)) > gap_s)
    ).cast("int")
    # two projections: Spark cannot nest the lag window inside sum().over;
    # Catalyst still runs both over ONE exchange + sort (same window spec)
    return (
        df.withColumn("_new_sess", new_sess)
        .withColumn("session_idx", F.sum("_new_sess").over(w))
        .drop("_new_sess")
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Per-session rollup: (user, session_idx, n_events, start_epoch,
    end_epoch, duration_s).  Epoch seconds, not timestamps, so results
    are engine-portable bit-for-bit."""
    s = sessionize(df, user_col, ts_col, gap_minutes)
    return (
        s.groupBy(user_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(_epoch_s(F.col(ts_col))).alias("start_epoch"),
            F.max(_epoch_s(F.col(ts_col))).alias("end_epoch"),
        )
        .withColumn("duration_s", F.col("end_epoch") - F.col("start_epoch"))
        .orderBy(user_col, "session_idx")
    )


def retention_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(cohort_day, day_offset, n_users, cohort_size, retention) — the
    classic cohort-retention matrix: users are cohorted by their FIRST
    active epoch-day; cell (c, k) counts distinct cohort-c users active
    on day c+k; retention = n_users / cohort_size.  Days are integer
    epoch-days (floor(epoch/86400)) so the bucketing is timezone-free
    and engine-portable — same convention as the windowed event counts.

    100 TB shape: ONE data-sized exchange — groupBy(user) with a
    map-side-combined collect_set(day) partial (the per-user active-day
    set is bounded by the observation window, not the event count), from
    which cohort (= array_min) and every (cohort, offset) cell derive
    row-locally; a naive distinct + min-day groupBy + cohort join costs
    three exchanges on two different keys.  The two downstream
    aggregates run over |users| rows, and the cohort-size join is a
    broadcast of the |cohorts|-row table.

    Events with a NULL user or a NULL timestamp belong to no cohort and no
    cell: they are dropped first (the ``events_retention`` oracle drops
    the same rows)."""
    day = F.floor(_epoch_s(F.col(ts_col)) / 86400).cast("long")
    per_user = (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("_u"), day.alias("_d"))
        .groupBy("_u").agg(F.collect_set("_d").alias("_ds"))
        .select(F.array_min("_ds").alias("cohort_day"), "_ds")
    )
    cells = (
        per_user.select("cohort_day", F.explode("_ds").alias("_d"))
        .select("cohort_day", (F.col("_d") - F.col("cohort_day")).alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))   # one row per (user, day)
    )
    sizes = per_user.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    return (
        cells.join(F.broadcast(sizes), "cohort_day")
        .select("cohort_day", "day_offset", "n_users", "cohort_size",
                F.round(F.col("n_users") / F.col("cohort_size"), 6)
                 .alias("retention"))
        .orderBy("cohort_day", "day_offset")
    )
