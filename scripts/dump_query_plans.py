"""Capture .explain('formatted') for named queries into OUTDIR.

Usage: python scripts/dump_query_plans.py OUTDIR before|after name [name...]
Writes OUTDIR/<name>_<suffix>.txt for each query. The input tables come
from SPARK_GRAFT_SF_DIR (default: session.DEFAULT_SF_DIR).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_audio_classification_spark.plans.introspect import formatted_plan
from big_data_audio_classification_spark.registry import all_queries
from big_data_audio_classification_spark.session import DEFAULT_SF_DIR, get_spark


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    out, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark("dump-query-plans")
    qs = all_queries()
    os.makedirs(out, exist_ok=True)
    for name in names:
        plan = formatted_plan(qs[name].fn(spark, DEFAULT_SF_DIR))
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
