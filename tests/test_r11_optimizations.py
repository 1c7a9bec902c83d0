"""Focused equivalence pins for the r11 optimization rewrites.

Each r11 rewrite replaced a single-partition global-rank construct with
a scale-safe equivalent (two-phase bucketed rank, value ledger, or
closed-form rank algebra). These tests pin the INTERNAL equivalence
argument of each rewrite against the straightforward form it replaced,
on the same sf0.001 inputs the oracle gate uses — so a future edit that
breaks the algebra fails here, not in the driver's window.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Window


def test_quantile_binning_equals_ntile_window(spark, sf_dir):
    """The closed-form NTILE bucket spans + two-phase rank extraction
    must reproduce the literal NTILE window bin table bit-for-bit."""
    from big_data_audio_classification_spark.operators.stats import (
        QBIN_N,
        ml_quantile_binning,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    ref = (
        o.select(
            "o_totalprice",
            F.ntile(QBIN_N)
            .over(Window.orderBy("o_totalprice", "o_orderkey"))
            .alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bin")
        .collect()
    )
    got = ml_quantile_binning(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_session_deciles_equal_rank_window(spark, sf_dir):
    """The duration-value ledger read must equal the global ROW_NUMBER
    pick (value at rank ⌈n·d/10⌉) on the same session frame."""
    from big_data_audio_classification_spark.operators.analytics import (
        events_session_duration_deciles,
    )

    got = {
        r["decile"]: r["dur_s"]
        for r in events_session_duration_deciles(spark, sf_dir).collect()
    }
    # independent replay: collect the session durations and rank in
    # python (tiny at sf0.001)
    from big_data_audio_classification_spark.operators.analytics import (
        SESSION_GAP_S,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    rows = sorted(
        e.select("user_id", F.unix_micros("ts").alias("t"), "event_id")
        .collect(),
        key=lambda r: (r["user_id"], r["t"], r["event_id"]),
    )
    durs = []
    prev_user, prev_t, lo = None, None, None
    for r in rows:
        if r["user_id"] != prev_user or r["t"] - prev_t > SESSION_GAP_S * 1_000_000:
            if lo is not None:
                durs.append((prev_t - lo) // 1_000_000)
            lo = r["t"]
        prev_user, prev_t = r["user_id"], r["t"]
    durs.append((prev_t - lo) // 1_000_000)
    durs.sort()
    n = len(durs)
    expected = {d: durs[math.ceil(n * d / 10.0) - 1] for d in range(1, 10)}
    assert got == expected


def test_gini_ledger_algebra_equals_ranked_form(spark, sf_dir):
    """Σ(2i−n−1)·f over ranked keys == Σ f·c·(2p+c+1) − (n+1)·Σf over
    the frequency ledger — the tie-group rank-sum invariance the r11
    rewrite rests on."""
    from big_data_audio_classification_spark.operators.scale_patterns import (
        skew_key_gini_imbalance,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    row = skew_key_gini_imbalance(spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "events")
    freqs = sorted(
        (r["cnt"], r["user_id"])
        for r in e.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    )
    n = len(freqs)
    tot = sum(f for f, _ in freqs)
    num = sum((2 * (i + 1) - n - 1) * f for i, (f, _) in enumerate(freqs))
    assert row["n_keys"] == n
    assert row["n_rows"] == tot
    assert row["excess_mass"] == tot - min(f for f, _ in freqs) * n
    assert abs(row["gini"] - round(num / (n * tot), 6)) < 1e-12


def test_segment_migration_equals_ntile_windows(spark, sf_dir):
    """Bucket-prefix + in-bucket row_number quintile assignment must
    reproduce the two literal NTILE(5) windows' migration matrix."""
    from big_data_audio_classification_spark.operators.timeseries import (
        MIGRATION_SPLIT,
        analytics_segment_migration,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    split = F.lit(MIGRATION_SPLIT).cast("date")
    w_rank = Window.orderBy("spend", "o_custkey")

    def half(cond, seg_alias):
        return (
            o.where(cond)
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
            .select("o_custkey", F.ntile(5).over(w_rank).alias(seg_alias))
        )

    q1 = half(F.col("o_orderdate").cast("date") < split, "seg_before")
    q2 = half(F.col("o_orderdate").cast("date") >= split, "seg_after")
    mat = (
        q1.join(q2, "o_custkey")
        .groupBy("seg_before", "seg_after")
        .agg(F.count("*").alias("n_customers"))
    )
    norm = Window.partitionBy("seg_before")
    ref = sorted(
        tuple(r)
        for r in mat.select(
            F.col("seg_before").cast("int"),
            F.col("seg_after").cast("int"),
            "n_customers",
            F.round(
                F.col("n_customers").cast("double")
                / F.sum("n_customers").over(norm),
                6,
            ),
        ).collect()
    )
    got = sorted(tuple(r) for r in analytics_segment_migration(spark, sf_dir).collect())
    assert got == ref


def test_conformal_qhat_is_kth_smallest_residual(spark, sf_dir):
    """The two-phase bucketed-rank qhat must equal the k-th smallest
    rounded calibration residual computed by a full python sort."""
    from big_data_audio_classification_spark.operators.ml import (
        CONF_ALPHA,
        ml_conformal_interval,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    row = ml_conformal_interval(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    base = li.select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        bucket.alias("b"),
    )
    slope, icept = row["slope"], row["intercept"]
    # slope/intercept are rounded(4) in the output; recompute exactly
    fit = (
        base.filter(F.col("b") < 6)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .collect()[0]
    )
    sl = (fit["sxy"] - fit["sx"] * fit["sy"] / fit["n"]) / (
        fit["sxx"] - fit["sx"] * fit["sx"] / fit["n"]
    )
    ic = fit["sy"] / fit["n"] - sl * fit["sx"] / fit["n"]
    assert round(sl, 4) == slope and round(ic, 4) == icept
    resids = sorted(
        round(abs(r["y"] - (ic + sl * r["x"])), 6)
        for r in base.filter(F.col("b").isin(6, 7)).collect()
    )
    k = int(math.ceil((len(resids) + 1) * (1.0 - CONF_ALPHA)))
    assert row["qhat"] == round(resids[k - 1], 4)


def test_bench_line_fits_driver_capture():
    """The bench's final stdout line must stay inside the driver's
    2000-char tail capture for the CURRENT headline set, and the
    fallback ladder must degrade gracefully instead of clipping
    (ADVICE r10: one fallback was ~2 flagships away from re-triggering
    the r09 parsed:null failure)."""
    import json as _json
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    import bench

    cold = {n: 12.345 for n in bench.HEADLINE}
    line = bench.final_line(123.456, cold, 78.901, 0.1)
    assert len(line) <= 2000
    parsed = _json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert set(parsed["queries"]) == set(bench.HEADLINE)

    # synthetic blow-up: 200 long-named queries must still produce a
    # parseable line (totals-only in the worst case), never a clip
    big = {f"query_with_a_rather_long_name_{i:03d}": 1.23 for i in range(200)}
    line2 = bench.final_line(246.0, big, 123.0, 0.1)
    assert len(line2) <= 2000
    assert _json.loads(line2)["value"] == 246.0
