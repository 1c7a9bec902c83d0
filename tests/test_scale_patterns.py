"""Plan-shape + equivalence tests for the scale patterns."""

from __future__ import annotations

import pyspark.sql.functions as F

from big_data_audio_classification_spark.operators import scale_patterns
from big_data_audio_classification_spark.plans.introspect import formatted_plan
from big_data_audio_classification_spark.sources.catalog import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting changes the shuffle, never the answer."""
    salted = scale_patterns.skew_salted_join(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    dim = e.select("user_id").distinct().select(
        "user_id",
        F.when(F.pmod("user_id", F.lit(2)) == 0, "vip").otherwise("std").alias("segment"),
    )
    plain = (
        e.join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("segment")
        .collect()
    )
    assert salted == plain


def test_twophase_distinct_equals_count_distinct(spark, sf_dir):
    out = scale_patterns.skew_twophase_distinct(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    direct = (
        e.groupBy("user_id")
        .agg(
            F.countDistinct(F.get_json_object("props", "$.k")).alias("n_distinct_k"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert out == direct


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """With broadcast disabled, the bucket-aligned SMJ still needs no
    shuffle exchange on either side."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        scale_patterns.bucketed_colocated_join(spark, sf_dir).collect()
        ob = spark.table(scale_patterns._BKT_ORDERS)
        cb = spark.table(scale_patterns._BKT_CUSTOMER)
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).select(
            "o_orderkey", "c_mktsegment"
        )
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bloom_filter_semijoin_reduction(spark, sf_dir):
    """With the runtime-filter thresholds scaled to fixture size, the
    selective orders side must inject a Bloom filter into the lineitem
    probe scan (bloom_filter_agg / BloomFilterMightContain in the
    plan). Confs are restored afterwards."""
    from big_data_audio_classification_spark.operators import scale_patterns
    from big_data_audio_classification_spark.plans import introspect

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = scale_patterns.scale_bloom_semijoin(spark, sf_dir)
        plan = introspect.formatted_plan(df).lower()
        assert "bloomfilter" in plan or "might_contain" in plan, plan[:2000]
        assert df.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE skew-join handling — the automatic complement to the manual
    salted join: build a join where one key holds ~90% of the rows,
    lower the skew thresholds to fixture scale, and assert the executed
    adaptive plan marked the sort-merge join as skew-handled
    (`skew=true`). Confs restored afterwards."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 40_000
        skewed = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(n).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = skewed.join(dim, "k")
        # execute THIS plan instance (count() would build a different
        # one whose executedPlan the join DataFrame doesn't expose)
        assert len(joined.collect()) == n  # correctness unchanged
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


LEAK_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from big_data_audio_classification_spark import scratch
from big_data_audio_classification_spark.operators import scale_patterns
from big_data_audio_classification_spark.session import get_spark

spark = get_spark("leak-check")
for fn in (scale_patterns.bucketed_colocated_join, scale_patterns.scale_dpp_partitioned_join):
    assert fn(spark, sys.argv[2]).collect()
print(scratch.SCRATCH_DIR, flush=True)
spark.stop()
"""


def test_saved_tables_leave_nothing_behind(sf_dir, tmp_path):
    """The bucketed tables and the DPP fact table are written under the
    process's scratch directory, and go with it at exit: nothing is left
    in the working directory or in /tmp/spark_graft_dpp_*."""
    import glob
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old_dpp = set(glob.glob("/tmp/spark_graft_dpp_*"))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out = subprocess.run(
        [sys.executable, "-c", LEAK_CHILD, repo, sf_dir],
        cwd=tmp_path, env=env, check=True, capture_output=True, text=True, timeout=600,
    ).stdout
    scratch_dir = out.strip().splitlines()[-1]
    assert os.listdir(tmp_path) == []
    assert set(glob.glob("/tmp/spark_graft_dpp_*")) == old_dpp
    assert not os.path.exists(scratch_dir)
