"""Gap-based sessionization (operators/sessions.py) and repetition
scoring (operators/text.py)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from json_schema_modern_spark.operators.sessions import session_stats, sessionize
from json_schema_modern_spark.operators.text import repetition_stats


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


@pytest.fixture(scope="module")
def ev_df(spark):
    rows = [
        # user 7: events at 0, 10, 50 min → sessions {0,10} and {50}
        (1, _ts(0), 7), (2, _ts(10), 7), (3, _ts(50), 7),
        # user 8: single event
        (4, _ts(5), 8),
        # user 9: exactly 30:00 gap — NOT > gap, same session
        (5, _ts(0), 9), (6, _ts(30), 9),
        # user 9: 30:01 after the second event → new session
        (7, dt.datetime(2024, 1, 1, 1, 0, 1), 9),
    ]
    return spark.createDataFrame(
        rows, "event_id int, ts timestamp, user_id int")


def test_sessionize_gap_semantics(ev_df):
    got = {r.event_id: r.session_idx for r in sessionize(ev_df).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1, 6: 1, 7: 2}


def test_session_stats_rollup(ev_df):
    rows = session_stats(ev_df).collect()
    by_key = {(r.user_id, r.session_idx): r for r in rows}
    assert by_key[(7, 1)].n_events == 2
    assert by_key[(7, 1)].duration_s == 600
    assert by_key[(7, 2)].n_events == 1
    assert by_key[(7, 2)].duration_s == 0
    assert by_key[(9, 1)].n_events == 2
    assert by_key[(9, 1)].duration_s == 1800
    assert (9, 2) in by_key and len(rows) == 5


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # bigrams: ab ba ab ba ab → 5 grams, 2 distinct
            (2, "w x y z"),           # all distinct
            (3, "single"),            # no bigrams
            (4, ""),                  # empty
        ],
        "doc_id int, text string")
    got = {r.doc_id: (r.n_grams, r.n_distinct, r.dup_frac)
           for r in repetition_stats(df, n=2).collect()}
    assert got[1] == (5, 2, 0.6)
    assert got[2] == (3, 3, 0.0)
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_repetition_trigram(spark):
    df = spark.createDataFrame([(1, "a b c a b c a b c")], "doc_id int, text string")
    r = repetition_stats(df, n=3).collect()[0]
    # trigrams: abc bca cab abc bca cab abc → 7 grams, 3 distinct
    assert (r.n_grams, r.n_distinct) == (7, 3)
    assert r.dup_frac == round(1 - 3 / 7, 6)


def test_retention_matrix_hand_case(spark):
    from json_schema_modern_spark.operators.sessions import retention_matrix

    D = 86400
    def ts(day, h=0):
        import datetime
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day, hours=h)
    # cohort day 0: users a, b (a returns day 1 and 2 — twice on day 2,
    # which must not double-count; b never returns).
    # cohort day 1: user c, returns day 2.
    rows = [
        (1, ts(0), "a", "click", 1.0),
        (2, ts(1), "a", "click", 1.0),
        (3, ts(2, 1), "a", "click", 1.0),
        (4, ts(2, 5), "a", "click", 1.0),
        (5, ts(0), "b", "click", 1.0),
        (6, ts(1), "c", "click", 1.0),
        (7, ts(2), "c", "click", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id int, ts timestamp, user_id string, event_type string, value double")
    got = {(r.cohort_day, r.day_offset): r for r in retention_matrix(df).collect()}
    assert got[(0, 0)].n_users == 2 and got[(0, 0)].retention == 1.0
    assert got[(0, 1)].n_users == 1 and got[(0, 1)].retention == 0.5
    assert got[(0, 2)].n_users == 1                     # a's two day-2 events count once
    assert got[(1, 0)].n_users == 1 and got[(1, 1)].n_users == 1
    assert all(r.cohort_size == (2 if r.cohort_day == 0 else 1)
               for r in got.values())
    # plan shape: ONE data-sized exchange (the user groupBy) feeds both
    # branches — no join on the user key, no distinct exchange
    plan = retention_matrix(df)._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final


def test_retention_matrix_drops_null_users_and_ts(spark):
    """Events with a NULL user or a NULL ts join no cohort and no cell, in
    the operator and in its events_retention oracle alike; both equal a
    plain-Python retention matrix over the remaining events."""
    import datetime

    import duckdb

    from __spark_entry__ import oracle_sql
    from json_schema_modern_spark.operators.sessions import retention_matrix

    def ts(day):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day, hours=3)

    events = [(1, ts(0), "a"), (2, ts(2), "a"), (3, ts(1), "b"), (4, ts(3), "b"),
              (5, ts(0), None), (6, ts(5), None),      # NULL user: no cohort
              (7, None, "a"), (8, None, "c"),          # NULL ts: no day
              (9, None, None), (10, ts(1), "d")]
    df = spark.createDataFrame(
        [(e, t, u, "click", 1.0) for e, t, u in events],
        "event_id int, ts timestamp, user_id string, event_type string, value double")

    days: dict = {}
    for _, t, u in events:
        if t is not None and u is not None:
            days.setdefault(u, set()).add((t - datetime.datetime(1970, 1, 1)).days)
    cohort = {u: min(ds) for u, ds in days.items()}
    size = {c: sum(1 for v in cohort.values() if v == c) for c in set(cohort.values())}
    cells: dict = {}
    for u, ds in days.items():
        for d in ds:
            cells[(cohort[u], d - cohort[u])] = cells.get((cohort[u], d - cohort[u]), 0) + 1
    want = sorted((c, k, n, size[c], round(n / size[c], 6)) for (c, k), n in cells.items())

    assert sorted(tuple(r) for r in retention_matrix(df).collect()) == want
    con = duckdb.connect()
    con.register("events", df.toPandas())
    assert sorted(con.execute(oracle_sql()["events_retention"]).fetchall()) == want
