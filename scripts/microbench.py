"""Micro-bench: time named queries in isolation (cold + median-of-5 warm).

Usage: python scripts/microbench.py name [name...]
Prints one JSON line per query: {"name":..., "cold":..., "warm": median, "samples":[...]}.
Same methodology as bench.py (noop sink, one shared session, flagship warmup).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_audio_classification_spark.registry import all_queries
from big_data_audio_classification_spark.session import get_spark

WARM_RUNS = 5


def _run(qs, name, spark, sf_dir) -> float:
    t0 = time.time()
    df = qs[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("microbench")
    qs = all_queries()
    qs["pricing_summary"].fn(spark, sf_dir).collect()  # JVM/codegen warmup
    for name in names:
        spark.sparkContext.setJobDescription(f"microbench: {name}")
        cold = _run(qs, name, spark, sf_dir)
        samples = sorted(_run(qs, name, spark, sf_dir) for _ in range(WARM_RUNS))
        print(json.dumps({
            "name": name, "cold": cold,
            "warm": samples[WARM_RUNS // 2], "samples": samples,
        }))
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
