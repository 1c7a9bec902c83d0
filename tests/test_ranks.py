"""Property tests: functions/ranks.py against numpy.

``values_at_ranks`` must return ``np.sort(x)[r]`` for every rank r in
[0, n) and null outside it; ``prefix_sums`` with a unit weight must give
each distinct value the mean of its tie block's 1-based positions, and
with a unique tie-break column, each row its 1-based position. The
inputs cover n = 1, n below and above the bucket count, all-tied
columns, one value holding 99% of the rows, mixed signs, infinite
values, and a grouped input where one group has a single row.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from big_data_audio_classification_spark.functions.ranks import (
    BUCKETS,
    prefix_sums,
    values_at_ranks,
)

# quarter steps in [-12.5, 12.5]: exact in binary, and ties are common
VALUES = st.lists(
    st.integers(min_value=-50, max_value=50).map(lambda i: i / 4),
    min_size=1,
    max_size=60,
)

SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ONE = [3.5]
TIED = [2.0] * 40
SKEWED = [-1.25] * 99 + [7.0]
MIXED = [-3.0, 2.5, -0.25, 0.0, 1.0, -3.0]
INFINITE = [float("-inf"), 1.0, float("inf"), 2.0, float("inf"), -0.5]


def _frame(spark, groups: dict[int, list[float]]):
    rows = [(g, i, float(v)) for g, xs in groups.items() for i, v in enumerate(xs)]
    return spark.createDataFrame(rows, "g int, id int, v double")


def _check_values_at_ranks(spark, groups: dict[int, list[float]], k: int):
    df = _frame(spark, groups)
    ranks = {
        "first": F.lit(0),
        "mid": F.floor((F.col("n") - 1) / 2),
        "last": F.col("n") - 1,
        "k": F.lit(k),
        "past_end": F.col("n"),
    }
    got = {r["g"]: r for r in values_at_ranks(df, "v", ranks, by=["g"]).collect()}
    assert set(got) == set(groups)
    for g, xs in groups.items():
        s, n, row = np.sort(np.asarray(xs)), len(xs), got[g]
        assert row["n"] == n
        assert row["first"] == s[0]
        assert row["mid"] == s[(n - 1) // 2]
        assert row["last"] == s[-1]
        assert row["k"] == (s[k] if k < n else None)
        assert row["past_end"] is None


def _avg_ranks(xs: list[float]) -> dict[float, float]:
    s = np.sort(np.asarray(xs))
    pos = np.arange(1, len(s) + 1)
    return {float(v): float(pos[s == v].mean()) for v in np.unique(s)}


def _check_prefix_sums(spark, groups: dict[int, list[float]]):
    df = _frame(spark, groups)
    avg = prefix_sums(df, "v", {"t": F.lit(1), "w": F.col("id")}, by=["g"], ties=())
    got = {
        (r["g"], r["v"]): r
        for r in avg.select(
            "g", "v", "t", "w", "w_before", "w_total",
            (F.col("t_before") + (F.col("t") + 1) / 2.0).alias("avg_rank"),
            "t_total",
        ).collect()
    }
    for g, xs in groups.items():
        x, ids = np.asarray(xs), np.arange(len(xs))
        expected = _avg_ranks(xs)
        assert {v for gg, v in got if gg == g} == set(expected)
        for v, rank in expected.items():
            row = got[(g, v)]
            assert row["avg_rank"] == rank
            assert row["t"] == int((x == v).sum())
            assert row["t_total"] == len(xs)
            assert row["w"] == int(ids[x == v].sum())
            assert row["w_before"] == int(ids[x < v].sum())
            assert row["w_total"] == int(ids.sum())

    # a unique tie-break column turns the prefix count into row ranks
    rows = prefix_sums(df, "v", {"one": F.lit(1)}, by=["g"], ties=["id"]).collect()
    got_rank = {(r["g"], r["id"]): r["one_before"] + 1 for r in rows}
    for g, xs in groups.items():
        order = np.lexsort((np.arange(len(xs)), np.asarray(xs)))
        for pos, i in enumerate(order, start=1):
            assert got_rank[(g, int(i))] == pos


@given(xs=VALUES, k=st.integers(min_value=0, max_value=70))
@example(xs=ONE, k=0)
@example(xs=TIED, k=39)
@example(xs=SKEWED, k=99)
@example(xs=MIXED, k=2)
@example(xs=INFINITE, k=5)
@SETTINGS
def test_values_at_ranks_match_numpy_sort(spark, xs, k):
    _check_values_at_ranks(spark, {0: xs}, k)


@given(xs=VALUES, single=st.integers(min_value=-50, max_value=50))
@example(xs=SKEWED, single=-5)
@SETTINGS
def test_values_at_ranks_grouped_with_single_row_group(spark, xs, single):
    _check_values_at_ranks(spark, {0: xs, 1: [single / 4]}, 0)


@given(xs=VALUES)
@example(xs=ONE)
@example(xs=TIED)
@example(xs=SKEWED)
@example(xs=MIXED)
@example(xs=INFINITE)
@SETTINGS
def test_prefix_sums_average_ranks_match_numpy(spark, xs):
    _check_prefix_sums(spark, {0: xs})


@given(xs=VALUES, single=st.integers(min_value=-50, max_value=50))
@SETTINGS
def test_prefix_sums_grouped_with_single_row_group(spark, xs, single):
    _check_prefix_sums(spark, {0: xs, 1: [single / 4]})


def test_more_rows_than_buckets(spark):
    """Several rows per bucket, several buckets per rank lookup: mixed
    signs, heavy ties, and a second group where one value holds 99%."""
    rng = np.random.default_rng(7)
    n = 3 * BUCKETS
    spread = list(np.round(rng.normal(size=n) * 40) / 4)
    rest = np.round(rng.normal(size=BUCKETS // 10) * 8) / 4
    heavy = [0.5] * (99 * BUCKETS // 10) + list(rest)
    groups = {0: spread, 1: heavy}
    _check_values_at_ranks(spark, groups, n // 3)
    _check_prefix_sums(spark, groups)
