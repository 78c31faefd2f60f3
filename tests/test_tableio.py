"""TableIO: the parquet backend's snapshot ids, and the Iceberg branch
against a fake session whose catalog queries DuckDB answers."""

import duckdb
import pytest

from json_schema_modern_spark.sources.tableio import TableIO


def test_parquet_snapshot_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    snap = io.write(df, "t")
    assert io.snapshot_id("t") == snap
    assert io.snapshot_id("missing") is None
    assert sorted(io.read_snapshot("t", snap).collect()) == sorted(df.collect())
    again = io.write(df.limit(1), "t")
    assert again != snap and io.snapshot_id("t") == again
    assert io.read_snapshot("t").count() == 1


class _Reader:
    def __init__(self, calls):
        self.calls = calls

    def option(self, key, value):
        self.calls.append(("option", key, value))
        return self

    def table(self, name):
        self.calls.append(("table", name))
        return name


class _Result:
    def __init__(self, row):
        self.row = row

    def first(self):
        return self.row


class _FakeSession:
    """The calls TableIO's Iceberg branch makes: ``conf.get``,
    ``read.option(...).table(...)`` and ``sql(...).first()``, the SQL run
    by DuckDB over a ``<table>.snapshots`` metadata table."""

    def __init__(self, catalog="org.apache.iceberg.spark.SparkSessionCatalog"):
        self.conf = {"spark.sql.catalog.spark_catalog": catalog} if catalog else {}
        self.calls = []
        self.read = _Reader(self.calls)
        self.db = duckdb.connect()

    def sql(self, query):
        return _Result(self.db.execute(query).fetchone())


class _FakeFrame:
    def __init__(self, calls):
        self.calls = calls

    def writeTo(self, name):
        self.calls.append(("writeTo", name))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))


def test_iceberg_branch_pins_snapshots(tmp_path):
    with pytest.raises(RuntimeError, match="catalog"):
        TableIO(_FakeSession(catalog=None), str(tmp_path), fmt="iceberg")
    spark = _FakeSession()
    io = TableIO(spark, str(tmp_path), fmt="iceberg")

    assert io.read_snapshot("t", "42") == "t"
    assert spark.calls == [("option", "snapshot-id", "42"), ("table", "t")]
    spark.calls.clear()
    io.read_snapshot("t")                     # no id: the current table
    assert spark.calls == [("table", "t")]

    spark.db.execute("CREATE SCHEMA t")
    spark.db.execute("CREATE TABLE t.snapshots (snapshot_id BIGINT, committed_at TIMESTAMP)")
    spark.db.execute("INSERT INTO t.snapshots VALUES (7, '2026-01-02'), "
                     "(9, '2026-01-03'), (8, '2026-01-01')")
    spark.calls.clear()
    assert io.write(_FakeFrame(spark.calls), "t") == "9"
    assert spark.calls == [("writeTo", "t"), ("createOrReplace",)]
