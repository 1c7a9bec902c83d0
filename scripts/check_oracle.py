"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and (when an oracle exists) the
paired SQL on DuckDB over the same parquet, then compares:
row count, column names/order-insensitive values (sorted by column name,
rows sorted), with a small float tolerance.

Usage: python scripts/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import os
import struct
import sys
import time
from decimal import Decimal as _Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import types as T
from pyspark.sql.types import ArrayType, MapType

from big_data_audio_classification_spark.registry import all_queries
from big_data_audio_classification_spark.session import get_spark
from big_data_audio_classification_spark.sources.catalog import TABLES

FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-9


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)):
        if isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, float(b), rel_tol=FLOAT_RTOL, abs_tol=FLOAT_ATOL)
    if isinstance(b, float) and isinstance(a, int):
        return math.isclose(float(a), b, rel_tol=FLOAT_RTOL, abs_tol=FLOAT_ATOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_values_equal(x, y) for x, y in zip(a, b))
    return a == b


def _values_bitexact(a, b) -> bool:
    """Driver-faithful comparison: the driver hashes pandas-typed values,
    so floats must match BIT-FOR-BIT (catches both the -0.0 vs +0.0 sign
    split and ULP-level ROUND flips that isclose masks — the two r06
    red-row classes). NaN==NaN is kept equal (one canonical quiet NaN on
    both engines through toPandas/fetchdf). A DuckDB Decimal against a
    Spark float is compared as float64, because the driver reads the
    oracle through fetchdf(), which coerces DECIMAL columns to float64
    before hashing (ref_interval_join was driver-certified green in r02
    with exactly this shape)."""
    if isinstance(b, _Decimal) and isinstance(a, float):
        b = float(b)
    if isinstance(a, _Decimal) and isinstance(b, float):
        a = float(a)
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return struct.pack("<d", a) == struct.pack("<d", b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            _values_bitexact(x, y) for x, y in zip(a, b)
        )
    if type(a) is not type(b) and not (
        isinstance(a, (int, bool)) and isinstance(b, (int, bool))
    ):
        # int-vs-float kind splits are reported by dtype_problems; here
        # they are value mismatches under the driver's typed hash.
        return False
    return a == b


def _spark_kind(dt) -> str:
    """Pandas dtype kind that Spark's toPandas() produces for this type.

    The driver's value hash is pandas-typed, so an int64/float64 kind split
    between engines hash-mismatches even when values agree (the r05
    `events_session_gap_stats` HUGEINT defect). `isclose` in _values_equal
    deliberately tolerates int-vs-float VALUES; this kind check restores the
    driver's stricter semantics so local green implies driver green.
    """
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dt, T.BooleanType):
        return "b"
    if isinstance(dt, T.TimestampType):
        return "M"
    if isinstance(dt, T.DateType):
        return "D"  # lenient: duck DATE fetches as datetime64 or object
    if isinstance(dt, T.DecimalType):
        return "d"  # toPandas -> object(Decimal); duck DECIMAL -> float64
    return "O"


def _kinds_match(spark_kind: str, duck_kind: str) -> bool:
    if spark_kind == duck_kind:
        return True
    if spark_kind == "D":
        return duck_kind in ("M", "O")
    return False


def dtype_problems(name, q, sdf, con):
    """Compare pandas dtype KINDS the driver would see on each side."""
    try:
        duck = con.sql(f"SELECT * FROM ({q.oracle}) LIMIT 0").df()
    except Exception as exc:  # noqa: BLE001
        return [f"dtype probe failed: {exc}"]
    skinds = {f.name: _spark_kind(f.dataType) for f in sdf.schema.fields}
    out = []
    for col, sk in skinds.items():
        if col not in duck.columns:
            continue  # schema mismatch reported elsewhere
        dk = {"u": "i"}.get(duck[col].dtype.kind, duck[col].dtype.kind)
        if not _kinds_match(sk, dk):
            out.append(f"DTYPE {col}: spark kind {sk} vs duck {duck[col].dtype}({dk})")
    return out


def _sort_key(row):
    return tuple(
        (v is None, str(type(v).__name__), str(v)) for v in row
    )


def compare(name, spark_rows, spark_cols, duck_rows, duck_cols):
    problems = []
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"schema: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return problems
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount: spark={len(spark_rows)} duck={len(duck_rows)}")
        return problems
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted(
        (tuple(_norm(r[i]) for i in order) for r in spark_rows), key=_sort_key
    )
    d = sorted(
        (tuple(_norm(r[i]) for i in dorder) for r in duck_rows), key=_sort_key
    )
    bad = bitbad = 0
    for i, (sr, dr) in enumerate(zip(s, d)):
        if not _values_equal(sr, dr):
            if bad < 3:
                problems.append(f"row {i}: spark={sr} duck={dr}")
            bad += 1
        elif not _values_bitexact(sr, dr):
            if bitbad < 3:
                problems.append(
                    f"BITEXACT row {i}: spark={sr!r} duck={dr!r} "
                    f"(equal under tolerance, distinct under the driver's "
                    f"typed hash)"
                )
            bitbad += 1
    if bad:
        problems.append(f"{bad} mismatched rows of {len(s)}")
    if bitbad:
        problems.append(f"{bitbad} bit-inexact rows of {len(s)}")
    return problems


ROUND_MAG_LIMIT = 1e12  # |value| above this puts ROUND(x, 2) at the
# float64 precision edge — cross-engine ULP flips become coin flips.


def magnitude_warnings(spark_cols, spark_rows, sdf) -> list[str]:
    """Lint: float output columns whose magnitude reaches the double
    precision edge (the analytics_jenks_breaks r06 failure mode). Not a
    failure — a per-query review flag for ROUND'd large sums."""
    fcols = [
        i
        for i, f in enumerate(sdf.schema.fields)
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
    ]
    warns = []
    for i in fcols:
        mx = 0.0
        for r in spark_rows:
            v = r[i]
            if isinstance(v, float) and not math.isnan(v) and abs(v) > mx:
                mx = abs(v)
        if mx > ROUND_MAG_LIMIT:
            warns.append(
                f"MAGNITUDE {spark_cols[i]}: max |value| = {mx:.3e} "
                f"(> {ROUND_MAG_LIMIT:.0e}; ROUNDing here is ULP-unstable)"
            )
    return warns


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    qs = all_queries()
    if filters:
        qs = {n: q for n, q in qs.items() if any(f in n for f in filters)}

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, q in sorted(qs.items()):
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if q.oracle is not None:
            # The driver's pandas canonicalizer cannot hash array/map
            # cells — SQL-oracled queries must serialize them (e.g.
            # array_join) before returning.
            bad_cols = [
                f.name
                for f in sdf.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType))
            ]
            if bad_cols:
                n_fail += 1
                failures.append(name)
                print(f"FAIL  {name}: array/map output columns {bad_cols}")
                continue
        if q.oracle is None:
            n_rows_only += 1
            print(f"rows  {name}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")
            if len(spark_rows) == 0:
                print(f"      WARNING {name} returned 0 rows")
            continue
        try:
            rel = con.sql(q.oracle)
            duck_cols = rel.columns
            duck_rows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = compare(name, spark_rows, spark_cols, duck_rows, duck_cols)
        problems += dtype_problems(name, q, sdf, con)
        warns = magnitude_warnings(spark_cols, spark_rows, sdf)
        if problems:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name} ({time.time()-t0:.1f}s)")
            for p in problems + warns:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"PASS  {name}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")
            for p in warns:
                print(f"      {p}")

    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        + (f"  failures: {failures}" if failures else "")
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
