"""``load_table`` declares the schema Spark would infer, read from each
file's parquet footer, and starts no Spark job."""

from __future__ import annotations

import contextlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from big_data_audio_classification_spark.sources.catalog import (
    TABLES,
    footer_schema,
    load_table,
)

NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@contextlib.contextmanager
def conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def assert_declared_equals_inferred(spark, sf_dir, infer_ntz=True):
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        assert footer_schema(path, name, infer_ntz) == inferred, name


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_schema(spark, sf_dir, sf):
    assert_declared_equals_inferred(spark, os.path.join(os.path.dirname(sf_dir), sf))


def test_footer_schema_equals_inferred_schema_on_benchmark_input(spark, tmp_path):
    from perfbench.gen import materialize

    data_dir, _ = materialize(str(tmp_path), 7, 0.001, 2)
    assert_declared_equals_inferred(spark, data_dir)


def test_footer_schema_without_ntz_inference(spark, sf_dir):
    with conf(spark, NTZ, "false"):
        assert_declared_equals_inferred(spark, sf_dir, infer_ntz=False)
        orders = load_table(spark, sf_dir, "orders")
        assert dict(orders.dtypes)["o_orderdate"] == "timestamp"


def test_nanos_events_are_declared_as_long_and_normalized(spark, sf_dir, tmp_path):
    """The older generator's TIMESTAMP(NANOS) ``events.ts``: declared as
    bigint (nanosAsLong), then normalized to the same TIMESTAMP values."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = events.schema.get_field_index("ts")
    nanos = events.set_column(i, "ts", events.column("ts").cast(pa.timestamp("ns")))
    path = str(tmp_path / "events.parquet")
    pq.write_table(nanos, path)
    assert "nanoseconds" in pq.ParquetFile(path).schema.column(i).logical_type.to_json()

    declared = footer_schema(path, "events")
    assert declared == spark.read.parquet(path).schema
    assert declared["ts"].dataType == LongType()
    got = load_table(spark, str(tmp_path), "events").orderBy("event_id").collect()
    want = load_table(spark, sf_dir, "events").orderBy("event_id").collect()
    assert got == want


def test_load_table_starts_no_job(spark, sf_dir, job_group):
    with job_group("catalog-declared") as jobs:
        for name in TABLES:
            load_table(spark, sf_dir, name)
        assert jobs() == 0
    # the count is not blind: schema inference does start a job
    with job_group("catalog-inferred") as jobs:
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        assert jobs() >= 1


def test_unsupported_type_names_table_and_column(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()), "flag": [True]}), path)
    with pytest.raises(ValueError, match=r"orders\.flag"):
        footer_schema(path, "orders")
