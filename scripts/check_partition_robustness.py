"""Partition-robustness gate: results must not depend on parallelism.

The driver runs the window queries in ITS own Spark session, whose
parallelism/shuffle config we don't control — and the DuckDB oracle is
structurally blind to partition-order dependence (it has no partitions).
This script runs queries under two adversarial configs (local[5] with
spark.sql.shuffle.partitions=7 vs local[32] with 32) and compares a
column-name-sorted, row-sorted value hash; any mismatch means the
query's RESULT depends on physical partitioning — a latent driver red
row no oracle comparison can catch. This gate caught a real defect
pre-rotation in round 7 (ml_mrmr_feature_rank: a float-sum rank was
partition-order-dependent until moved to fixed-point sums).

Usage: python scripts/check_partition_robustness.py [mode|names...]
  no args        -> check the current DRIVER_WINDOW
  --all          -> check every SQL-oracled query, CHUNKED: 30 queries
                    per fresh subprocess pair (a single long-lived JVM
                    accumulates localCheckpoint/persist state across
                    hundreds of plans and OOMs its default heap —
                    observed at ~5200 stages, and again at a 60-query
                    chunk containing the checkpoint-heavy graph ops,
                    in r08)
  name [name...] -> check just those queries
Env: ROBUST_SF overrides the sf dir (default /root/testdata/sf0.01).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from big_data_audio_classification_spark.session import WORKER_CONF

SF = os.environ.get("ROBUST_SF", "/root/testdata/sf0.01")


def _pick_names() -> list[str]:
    from big_data_audio_classification_spark.registry import (
        DRIVER_WINDOW,
        all_queries,
    )

    qs = all_queries()
    args = sys.argv[1:]
    if args == ["--all"]:
        return [n for n, q in qs.items() if q.oracle is not None]
    if args:
        unknown = [n for n in args if n not in qs]
        if unknown:
            raise SystemExit(f"unknown query names: {unknown}")
        return args
    return list(DRIVER_WINDOW)


def run_all(names: list[str], shuffle_parts: int, parallelism: int) -> dict:
    spark = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # match the house session factory's heap: the default 1g driver
        # OOMs on median-over-pairs plans (stats_theil_sen) and on
        # checkpoint-heavy chunks
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config(map=WORKER_CONF)
        .appName(f"robust-{shuffle_parts}")
        .getOrCreate()
    )
    from big_data_audio_classification_spark.registry import all_queries

    qs = all_queries()
    out = {}
    for name in names:
        try:
            df = qs[name].fn(spark, SF)
            cols = sorted(df.columns)
            rows = sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())
            h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
            out[name] = (len(rows), h)
        except Exception as exc:  # noqa: BLE001
            out[name] = ("ERR", str(exc)[:120])
        spark.catalog.clearCache()
    spark.stop()
    return out


CHUNK = 30  # 60 OOMs a default-heap JVM pair on checkpoint-heavy chunks


def _run_chunked(names: list[str]) -> int:
    import subprocess

    total, bad_all = 0, {}
    for i in range(0, len(names), CHUNK):
        chunk = names[i : i + CHUNK]
        out = subprocess.run(
            [sys.executable, __file__, *chunk],
            capture_output=True,
            text=True,
        )
        # the verdict JSON is the last {...} block on stdout (Spark log
        # noise precedes it); payloads never nest extra braces
        start = out.stdout.find('{\n "mismatches"')
        if start < 0:
            raise RuntimeError(
                f"chunk {i // CHUNK + 1} produced no verdict; stderr tail: "
                + out.stderr[-500:]
            )
        payload = json.loads(out.stdout[start:])
        bad_all.update(payload["mismatches"])
        total += payload["n_checked"]
        print(
            f"chunk {i // CHUNK + 1}: {payload['n_checked']} checked, "
            f"{len(payload['mismatches'])} mismatches",
            flush=True,
        )
    print(json.dumps({"mismatches": bad_all, "n_checked": total}, indent=1))
    return 1 if bad_all else 0


def main() -> int:
    if sys.argv[1:] == ["--all"]:
        return _run_chunked(_pick_names())
    names = _pick_names()
    a = run_all(names, 7, 5)
    b = run_all(names, 32, 32)
    # an ERR on either side is a FAILURE even when both sides raise the
    # same message: the query was never actually compared, and counting
    # it as checked would launder a deterministic crash into a pass
    # (r08 review)
    bad = {
        k: (a[k], b[k])
        for k in a
        if a[k] != b[k] or a[k][0] == "ERR" or b[k][0] == "ERR"
    }
    print(json.dumps({"mismatches": bad, "n_checked": len(a)}, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
