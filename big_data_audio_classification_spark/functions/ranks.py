"""Exact ranks and order statistics without a data-sized sort.

An exact rank needs the total order of a column, and a global sort puts
that whole order in one task. Both functions here split the order by
value instead. A bucket id that is monotone in the value — ``BUCKETS``
equal-width buckets between each group's min and max — puts every value
of bucket b before every value of bucket b+1. A rank is then an
exclusive prefix over the bucket ledger (at most ``BUCKETS`` rows per
group) plus a rank inside one bucket:

* the ledger prefix comes from a broadcast triangular self-join of the
  ledger, so no plan holds an unpartitioned window;
* the rank inside a bucket comes from a window partitioned by bucket,
  so each task sorts about n / ``BUCKETS`` rows.

Neither result depends on where the bucket edges fall: a prefix sum of
weights and a value at a rank are the same for any monotone bucketing,
so ``BUCKETS`` is a parallelism knob, not an accuracy one. Value skew
does move rows into few buckets: if one value holds most rows, its
bucket holds them too.

Null values are ignored. Nothing here persists a frame: a caller whose
input frame is costly to recompute persists or checkpoints it first.
The working columns are ``bkt``, ``n``, ``r``, ``cnt`` and names that start
with ``_``; group and tie columns must not use those names.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

BUCKETS = 1024


def _join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    return left.join(right, list(on)) if on else left.crossJoin(right)


def _bounds(df: DataFrame, value: str, by: Sequence[str], *aggs: Column) -> DataFrame:
    v = F.col(value)
    return df.groupBy(*by).agg(F.min(v).alias("_mn"), F.max(v).alias("_mx"), *aggs)


def _bucketed(
    rows: DataFrame, st: DataFrame, value: str, by: Sequence[str]
) -> DataFrame:
    """``rows`` joined to their group's ``st`` row, which holds the
    group's ``_mn`` and ``_mx`` of ``value``, plus the bucket id ``bkt``."""
    v, mn, mx = (F.col(c).cast("double") for c in (value, "_mn", "_mx"))
    # double math cannot overflow, and rounding keeps the id monotone; the max
    # gets the top bucket explicitly, which keeps it monotone when the span
    # is infinite or NaN and never divides by a zero span
    b = F.when(v == mx, F.lit(BUCKETS - 1)).otherwise(
        F.least(F.floor((v - mn) / ((mx - mn) / F.lit(BUCKETS))), F.lit(BUCKETS - 1))
    )
    return (
        _join(rows, F.broadcast(st), by)
        .withColumn("bkt", b.cast("long"))
        .drop("_mn", "_mx")
    )


def _bucket_prefix(
    ledger: DataFrame, by: Sequence[str], cols: Sequence[str]
) -> DataFrame:
    """Per (group, bucket) of a one-row-per-bucket ledger: its ``cols``
    and, as ``<col>_before``, their sums over the group's lower buckets.
    A broadcast triangular self-join — no window over the ledger."""
    x, y = ledger.alias("x"), ledger.alias("y")
    on = F.col("y.bkt") < F.col("x.bkt")
    for g in by:
        on = on & (F.col(f"y.{g}") == F.col(f"x.{g}"))
    return (
        x.join(F.broadcast(y), on, "left")
        .groupBy(*[F.col(f"x.{c}").alias(c) for c in (*by, "bkt", *cols)])
        .agg(*[F.coalesce(F.sum(f"y.{c}"), F.lit(0)).alias(f"{c}_before") for c in cols])
    )


def values_at_ranks(
    df: DataFrame, value: str, ranks: Mapping[str, Column], *, by: Sequence[str]
) -> DataFrame:
    """The values of ``value`` at given 0-based ranks of its ascending
    order, per group of ``by``.

    ``ranks`` maps output names to rank expressions, which may use
    ``n``: the group's count of non-null values. Returns one row per
    group with the ``by`` columns, ``n`` and, under each name, the value
    at that rank: null when the rank is outside [0, n), and a group with
    no rank inside [0, n) has no row.

    Ties share a value, so the order of tied rows inside a bucket cannot
    change a result. Only the buckets that hold a wanted rank are
    ranked, each once per wanted rank it holds."""
    by = list(by)
    names = list(ranks)
    df = df.select(*by, F.col(value).alias("_v")).where(F.col("_v").isNotNull())
    st = _bounds(df, "_v", by, F.count(F.lit(1)).alias("n"))
    binned = _bucketed(df, st, "_v", by)
    # n rides along as a group key: the rank expressions read it on the
    # ledger rows
    hist = binned.groupBy(*by, "n", "bkt").agg(F.count(F.lit(1)).alias("cnt"))
    cand = (
        _bucket_prefix(hist, [*by, "n"], ["cnt"])
        .select(
            *by, "n", "bkt", "cnt", "cnt_before",
            *[e.cast("long").alias(k) for k, e in ranks.items()],
        )
        .withColumn("r", F.explode(F.array_distinct(F.array(*names))))
        .where(
            (F.col("r") >= F.col("cnt_before"))
            & (F.col("r") < F.col("cnt_before") + F.col("cnt"))
        )
    )
    in_bucket = Window.partitionBy(*by, "bkt", "r").orderBy("_v")
    return (
        binned.join(F.broadcast(cand.drop("cnt")), [*by, "n", "bkt"])
        .withColumn("_rk", F.row_number().over(in_bucket) - 1 + F.col("cnt_before"))
        .where(F.col("_rk") == F.col("r"))
        .groupBy(*by, "n")
        .agg(*[F.max(F.when(F.col("r") == F.col(k), F.col("_v"))).alias(k) for k in names])
    )


def prefix_sums(
    df: DataFrame,
    value: str,
    weights: Mapping[str, Column],
    *,
    by: Sequence[str],
    ties: Sequence[str],
) -> DataFrame:
    """Sums of per-row weights over each distinct key and over all rows
    whose key orders before it.

    A key is (``by``, ``value``, ``ties``); keys order by ``value`` and
    then ``ties``, ascending, within each group of ``by``. ``weights``
    maps names to per-row weight expressions. Returns one row per
    distinct key with a non-null value: the key columns and, for each
    weight name ``w``, the columns ``w`` (sum over the key's rows),
    ``w_before`` (sum over the group's rows whose key orders before)
    and ``w_total`` (sum over the group).

    With the weight ``F.lit(1)``, ``w_before + (w + 1) / 2`` is the
    average 1-based rank of a tie block, and ``w_before + 1`` is a
    row's rank when ``ties`` make keys unique."""
    by, ws = list(by), list(weights)
    keys = [*by, value, *ties]
    df = df.where(F.col(value).isNotNull())
    totals = [f"{k}_total" for k in ws]
    st = _bounds(df, value, by, *[F.sum(e).alias(f"{k}_total") for k, e in weights.items()])
    d = df.groupBy(*keys).agg(*[F.sum(e).alias(k) for k, e in weights.items()])
    # every branch carries the group totals (constant per group) so the
    # branches stay identical plans that the executor computes once
    binned = _bucketed(d, st, value, by)
    grp = [*by, *totals]
    local = Window.partitionBy(*by, "bkt").orderBy(value, *ties).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = binned.select(
        *keys,
        *totals,
        "bkt",
        *ws,
        *[F.coalesce(F.sum(k).over(local), F.lit(0)).alias(f"_{k}_local") for k in ws],
    )
    ledger = binned.groupBy(*grp, "bkt").agg(*[F.sum(k).alias(k) for k in ws])
    offsets = _bucket_prefix(ledger, grp, ws).select(
        *grp, "bkt", *[F.col(f"{k}_before").alias(f"_{k}_off") for k in ws]
    )
    return ranked.join(F.broadcast(offsets), [*grp, "bkt"]).select(
        *keys,
        *[
            c
            for k in ws
            for c in (
                F.col(k),
                (F.col(f"_{k}_off") + F.col(f"_{k}_local")).alias(f"{k}_before"),
                F.col(f"{k}_total"),
            )
        ],
    )
