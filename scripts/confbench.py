"""A/B a set of Spark confs against the microbench query list.

Usage: python scripts/confbench.py "k=v,k2=v2" name [name...]
Creates the session WITH the overrides first (get_spark then returns the
active session), then times like microbench.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from big_data_audio_classification_spark.session import (
    WORKER_CONF,
    _local_cores,
    jvm_archive_conf,
    warehouse_conf,
)


def main() -> None:
    overrides = sys.argv[1]
    names = sys.argv[2:]
    cores = _local_cores()
    b = (
        SparkSession.builder.appName("confbench")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(map=WORKER_CONF)
        .config(map=warehouse_conf())
        .config(map=jvm_archive_conf())
    )
    if overrides:
        for kv in overrides.split(","):
            k, v = kv.split("=", 1)
            b = b.config(k, v)
    spark = b.getOrCreate()

    from big_data_audio_classification_spark.registry import all_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = all_queries()
    qs["pricing_summary"].fn(spark, sf_dir).collect()

    def run(name):
        t0 = time.time()
        qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    for name in names:
        cold = run(name)
        samples = sorted(run(name) for _ in range(5))
        print(json.dumps({"name": name, "cold": cold, "warm": samples[2],
                          "samples": samples}))
    spark.stop()


if __name__ == "__main__":
    main()
