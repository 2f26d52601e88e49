"""Tuned SparkSession builder (SURVEY.md §4.3 item 4).

Engine-owned defaults chosen for correctness-parity with the DuckDB
oracle and for scale:

- **AQE on** (coalesce partitions, skew-join): at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE
  re-plans at stage boundaries from runtime statistics.
- **UTC session timezone**: fixtures carry timestamp[ms]/[ns]
  columns; DuckDB compares in UTC, so must we.
- **Arrow enabled**: every driver interchange (``toPandas``,
  ``pandas_udf``, ``mapInPandas``) moves columnar batches, not
  pickled rows.
- **shuffle.partitions** is the ``shuffle_partitions`` argument,
  32 by default whatever the core count; on a real cluster this would
  be sized to ~128 MB per post-shuffle partition (AQE coalescing makes
  the initial value a ceiling, not a target).
- **Worker daemon** (``pyworker``): every Python task (MR jobs,
  pandas UDFs, ``applyInPandasWithState``) used to spend about 200 ms
  re-reading the directories of ``pyspark.zip``, the py4j zip and the
  ``spark-core`` jar, which PySpark's per-task
  ``importlib.invalidate_caches()`` forces. The engine's daemon drops
  those archives from the worker path when the interpreter has the same
  pyspark/py4j release unpacked. Measured on a 4-core VM under
  ``local[2]``: ``invalidate_caches`` per task 199 ms → 0.06 ms; a
  one-task ``parallelize(...).count()`` 185 → 92 ms and a 4-task
  ``mapInPandas`` count 620 → 305 ms (medians). The engine's parent
  directory goes on the workers' ``PYTHONPATH`` so that they can import
  the daemon from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the ``mapreducepy_spark`` package.
_ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "mapreducepy-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or
    ``*``. One session is reused across all queries — per-query JVM
    startup would dominate small-scale benchmarks (SURVEY.md §6).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark has no ns-precision TimestampType; read parquet
        # TIMESTAMP(NANOS) as long and rebuild µs timestamps in io.load
        # (fixture ns values are µs-aligned — measured, lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read parquet timestamps as TIMESTAMP (UTC instants), not NTZ:
        # with the UTC session timezone the values are identical and
        # the full timestamp function surface (unix_micros …) applies.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # dynamic partition overwrite: INSERT OVERWRITE / mode("overwrite")
        # on a partitioned table replaces only the partitions present in
        # the incoming data — the incremental-pipeline write pattern
        # (static mode would wipe the whole table)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        # no `[Stage N:...]\r` bars on stderr: they would share a line
        # with the bench rows and parity lines that scripts print there
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "mapreducepy_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_PARENT)
        .config("spark.driver.memory", "8g")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
