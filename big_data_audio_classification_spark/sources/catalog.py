"""Table catalog over the driver-generated parquet test data.

``load_table`` declares each table's schema and starts no Spark job.
Left to infer it, ``spark.read.parquet`` runs one small job per call to
read the footers, ~0.1 s even warm. Instead ``footer_schema`` reads the
file's own footer with pyarrow (under 1 ms) and maps it to the schema
Spark would infer, so the declaration follows whatever the generator
wrote, ``events.ts``'s two physical types included. A path that is not a
local file (a directory of Spark part files, a remote URI) keeps Spark's
inference. Catalyst gets
the native vectorized reader, column pruning, predicate pushdown and
partition pruning. ``events.ts`` is normalized to a TIMESTAMP column
whichever physical type the generator wrote.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

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

# The arrow types the ten tables hold, as Spark reads their parquet.
_SCALARS = {
    pa.int32(): IntegerType(),
    pa.int64(): LongType(),
    pa.float64(): DoubleType(),
    pa.string(): StringType(),
}
_ELEMENTS = {pa.float32(): FloatType()}


def _spark_type(t: pa.DataType, infer_ntz: bool) -> DataType | None:
    if t in _SCALARS:
        return _SCALARS[t]
    if pa.types.is_list(t) and t.value_type in _ELEMENTS:
        return ArrayType(_ELEMENTS[t.value_type], True)
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return LongType()  # TIMESTAMP(NANOS) under nanosAsLong
        if t.unit == "us":
            return TimestampNTZType() if infer_ntz and t.tz is None else TimestampType()
    return None


def footer_schema(path: str, table: str, infer_ntz: bool = True) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, from the file's
    footer: every field nullable, as Spark's file schemas are.
    ``infer_ntz`` is ``spark.sql.parquet.inferTimestampNTZ.enabled``.
    Raises ValueError naming the table and column for any other type."""
    fields = []
    for f in pq.read_schema(path):
        t = _spark_type(f.type, infer_ntz)
        if t is None:
            raise ValueError(f"{table}.{f.name}: no Spark type declared for {f.type}")
        fields.append(StructField(f.name, t, True))
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.read
    if os.path.isfile(path):
        infer_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        reader = reader.schema(footer_schema(path, name, infer_ntz.lower() == "true"))
    df = reader.parquet(path)
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
