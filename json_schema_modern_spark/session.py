"""SparkSession factory tuned for the validation workload.

Local-mode defaults match the sandbox (local[32], single JVM); every knob is
chosen to also be the right default on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting) —
  the engine's only shuffles are the uniqueness hash-agg, the referential
  sort-merge join and the per-source drift groupBy, all of which are
  skew-prone on the ``source`` column.
- Arrow on — the KS drift check and the generic-JSON parity backend are
  pandas-UDF based; everything on the hot path stays JVM-side.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from an intentionally-high initial value.
- DataFrame origin tracking off (``spark.python.sql.dataFrameDebugging``):
  with it on, every ``functions.*``/Column call makes ~5 extra py4j round
  trips to record its Python call site, which more than doubled the
  flagship spec's compile time.  The cost: errors raised in the JVM no
  longer name the Python line that built the failing expression (their
  message is unchanged).  ``extra_conf`` can turn it back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "json_schema_modern_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # In local[N] the parallelism equals N; one shuffle partition per core
    # avoids tiny-partition overhead at test scale.  AQE coalesces further.
    n_shuffle = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 16g, not bigger: an oversized heap makes the collector walk/page
        # far more memory than the workload needs — measured here, a 48g
        # heap turned 1-5s scans into 50-70s with 70-90% kernel time
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
