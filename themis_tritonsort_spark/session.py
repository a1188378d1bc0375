"""SparkSession factory tuned for this engine.

The reference sizes its pipeline by hand (buffer quotas, chainer sizes,
partition counts derived in ``mapreduce/main.cc:1216-1441``).  Spark's
equivalents are AQE + shuffle-partition sizing + broadcast thresholds,
set once here so every operator inherits them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding this package, so Python workers can import it.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "themis-tritonsort-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    Defaults are chosen for the local[] test harness but the knobs are
    the ones that matter on a real cluster too: AQE for runtime
    re-planning (skew joins, partition coalescing), Arrow for any
    Pandas-UDF path, and range-partition sampling for global sorts.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: post-shuffle coalesce + skew-join splitting replaces the
        # reference's phase-0 sample-driven partition sizing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 256 MB scan splits: at 100 TB this is ~400k tasks (~50 waves
        # on 8k cores) — fine granularity for stragglers/retries without
        # task-launch overhead dominating; harmless at test scale.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        # Arrow for applyInPandas/mapInPandas operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables (region/nation/...) are broadcast joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamps across Spark/DuckDB comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # type, so read as long and convert in data.table() (DuckDB
        # truncates the same way: nanos -> micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Workers fork from pydaemon, which imports the byte-compiled
        # pyspark when it is pyspark.zip's release (compiling the zip's
        # sources cost ~1 s per daemon start) and stops every task
        # re-reading the zip (0.12-0.26 s of CPU per task on 3.11).
        # spark.python.worker.module cannot carry it: pyspark/daemon.py
        # loads only worker modules named pyspark*.
        .config("spark.python.daemon.module", "themis_tritonsort_spark.pydaemon")
        # The daemon must import this package even when the driver runs
        # outside the repo with PYTHONPATH unset; Spark merges this with
        # the process's own PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
