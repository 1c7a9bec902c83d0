"""Table catalog over the driver-generated parquet test data.

``load_table`` is a plain ``spark.read.parquet`` that infers each table's
schema from its parquet footers, which starts one small Spark job per
call; the FIXTURES.md Part B schemas are not declared here. Catalyst gets
the native vectorized reader, column pruning, predicate pushdown and
partition pruning. ``events.ts`` is normalized to a TIMESTAMP column
whichever physical type the generator wrote.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast when joined
# against a fact table. At TPC-H-like scale region/nation/supplier stay
# tiny; customer/part grow with SF but stay well under broadcast
# thresholds until very large SF.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Generator versions differ on `ts`: some write TIMESTAMP(NANOS)
        # (surfaced as long nanos under nanosAsLong), newer ones write a
        # native TIMESTAMP(MICROS). Normalize on a real timestamp column
        # so event-time ops (window/session_window/watermark) work
        # natively either way.
        import pyspark.sql.functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer `div`, not `/`: float division loses ULPs on longs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # TIMESTAMP_NTZ → TIMESTAMP: the session timezone is pinned to
            # UTC (session.py), so the naive instant maps 1:1 and every
            # downstream consumer (unix_micros, watermarks, oracles) sees
            # one canonical timestamp type regardless of generator version.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` text queries
    (the SQL front door of the engine) resolve the same names the DuckDB
    oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
