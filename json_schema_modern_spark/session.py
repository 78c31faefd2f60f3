"""SparkSession factory tuned for the validation workload.

Local-mode defaults fit the machine they run on: ``local[N]`` with N the
CPUs this process may run on (``os.sched_getaffinity``), and a driver heap
of half the host's memory, capped at 16g.  ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM`` override them.  Every other knob is chosen to also be
the right default on a 1000-executor cluster:

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


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the number of CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """``SPARK_DRIVER_MEM``, else half the host's memory in whole GiB,
    between 1g and 16g.  Not bigger: an oversized heap makes the collector
    walk/page far more memory than the workload needs — measured on a
    32-vCPU host, a 48g heap turned 1-5s scans into 50-70s with 70-90%
    kernel time."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, host // 2 // 2**30))}g"


def get_spark(
    app_name: str = "json_schema_modern_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = default_cpus()
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
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
