"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every knob is chosen for how it
scales on a real cluster:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic broadcast conversion are exactly the behaviors that keep a
  100 TB plan healthy without hand-tuning per query.
* Arrow on — every pandas-UDF boundary (audio decode, mel extraction,
  vector math fallbacks) is Arrow-batched, never row-at-a-time.
* ``spark.sql.shuffle.partitions`` defaults to the local core count; AQE
  coalesces down when partitions are small, so on a cluster you set it
  high (2–3× total cores) and let AQE shrink it.
* Python workers import the installed pyspark, the copy the driver runs,
  not ``pyspark.zip`` and the jars Spark puts first on their path. On
  CPython 3.11 pyspark's per-task ``importlib.invalidate_caches()``
  re-reads each zip archive on the path, 100–250 ms before a task sees
  its first row. ``WORKER_CONF`` starts the worker daemon through
  ``worker_path/spark_graft_daemon.py``, which drops those entries when
  pyspark and py4j import without them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Sessions built elsewhere (scripts/) apply these too.
WORKER_CONF = {
    "spark.python.daemon.module": "spark_graft_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "worker_path"),
}


def _local_cores() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return 8


def get_spark(app_name: str = "big-data-audio-classification-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or return the active) SparkSession with engine defaults."""
    cores = _local_cores()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark's vectorized reader
        # has no nanos type — read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(map=WORKER_CONF)
        .getOrCreate()
    )


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
