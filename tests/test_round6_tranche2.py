"""Replay/invariant tests for the round-8 spare tranche (stocked in
round 6, two rotations ahead). Oracle-independent properties only."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def test_backward_tolerance_asof_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        ASOF_LOOKBACK_S,
        join_asof_backward_tolerance,
    )

    got = {
        r.purchase_id: (r.click_id, r.attributed)
        for r in join_asof_backward_tolerance(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    ).collect()
    clicks = {}
    for r in ev:
        if r.event_type == "click":
            clicks.setdefault(r.user_id, []).append((r.us, r.event_id))
    tol = ASOF_LOOKBACK_S * 1_000_000
    for r in ev:
        if r.event_type != "purchase":
            continue
        cand = [
            (us, -cid)
            for us, cid in clicks.get(r.user_id, [])
            if us <= r.us and r.us - us <= tol
        ]
        want = -max(cand)[1] if cand else None
        assert got[r.event_id] == (want, want is not None), r.event_id


def test_union_vs_union_all_consistency(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        set_union_vs_union_all,
    )

    [row] = set_union_vs_union_all(spark, sf_dir).collect()
    assert row.n_union_all >= row.n_union_distinct > 0
    assert row.n_duplicates == row.n_union_all - row.n_union_distinct


def test_rollup_hierarchy_levels_nest(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        agg_rollup_time_hierarchy,
    )

    rows = agg_rollup_time_hierarchy(spark, sf_dir).collect()
    fine = [r for r in rows if r.gid == 0]
    years = {r.year: r for r in rows if r.gid == 1}
    [grand] = [r for r in rows if r.gid == 3]
    assert grand.n == sum(r.n for r in fine)
    for y, yr in years.items():
        assert yr.n == sum(r.n for r in fine if r.year == y)


def test_log_bands_each_value_in_two_bands(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        join_range_log_bands_overlap,
    )

    rows = join_range_log_bands_overlap(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders").select("o_totalprice").collect()
    in_range = [
        r.o_totalprice for r in o if 2**9 <= r.o_totalprice < 2**19
    ]
    # each in-range value overlaps exactly 2 of the 2-octave bands
    # (modulo the ends of the band ladder)
    total_band_hits = sum(r.n_orders for r in rows)
    assert total_band_hits >= len(in_range)  # >= because of edge bands
    assert total_band_hits <= 2 * len(o)


def test_union_sketch_estimates_containment(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_minhash_union_sketch,
    )

    rows = dedup_minhash_union_sketch(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.est_containment <= 1.0
        assert 0.0 < r.exact_containment <= 1.0
    assert np.mean([r.abs_err for r in rows]) < 0.25


def test_weighted_simhash_shifts_some_bits(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_weighted,
    )

    rows = dedup_simhash_weighted(spark, sf_dir).collect()
    assert rows
    assert all(0 <= r.bits_moved <= 32 for r in rows)
    # tf-weighting stays CORRELATED with the unweighted fingerprint
    # (mean Hamming far below the ~16 of independent 32-bit codes);
    # moving zero bits is legitimate when every bit's weighted majority
    # agrees with the unweighted one (short docs, flat tf)
    moved = [r.bits_moved for r in rows]
    assert np.mean(moved) < 16


def test_field_boost_reranks_vs_plain(spark, sf_dir):
    from big_data_audio_classification_spark.operators.text import (
        FIELD_QUERY,
        FIELD_TITLE_BOOST,
        FIELD_TITLE_LEN,
        text_tfidf_field_boost,
    )

    rows = text_tfidf_field_boost(spark, sf_dir).collect()
    assert rows
    docs = {
        d.doc_id: d.text
        for d in load_table(spark, sf_dir, "documents").collect()
    }
    for r in rows[:5]:
        toks = [t for t in docs[r.doc_id].split(" ") if t]
        wtf = sum(
            (FIELD_TITLE_BOOST if i < FIELD_TITLE_LEN else 1)
            for i, t in enumerate(toks)
            if t in FIELD_QUERY
        )
        assert r.weighted_tf == wtf


def test_absolute_discount_is_proper_over_seen(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        text_lm_absolute_discount,
    )

    rows = text_lm_absolute_discount(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.p_ad < 1.0
        assert r.c12 > 0


def test_ivf_centroid_update_matches_numpy(spark, sf_dir):
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
        sim_ivf_centroid_update,
    )

    got = {r.cell_id: r for r in sim_ivf_centroid_update(spark, sf_dir).collect()}
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).collect()
    X = np.array([r.e for r in em])
    ids = np.array([r.vec_id for r in em])
    C = X[np.argsort(ids)][:IVF_CELLS] if False else np.array(
        [r.e for r in sorted(em, key=lambda r: r.vec_id)[:IVF_CELLS]]
    )
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    total = 0
    for c in range(IVF_CELLS):
        members = X[assign == c]
        if c in got:
            assert got[c].n_members == len(members)
            mv = float(np.sqrt(((members.mean(axis=0) - C[c]) ** 2).sum()))
            assert abs(got[c].movement - round(mv, 6)) <= 1e-4
            total += got[c].n_members
    assert total == len(X)


def test_skew_profile_shares(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scale_patterns import (
        SKEW_PROFILE_TOP,
        skew_key_frequency_profile,
    )

    rows = skew_key_frequency_profile(spark, sf_dir).collect()
    assert len(rows) == SKEW_PROFILE_TOP
    cnts = [r.cnt for r in sorted(rows, key=lambda r: r.rank)]
    assert cnts == sorted(cnts, reverse=True)
    assert all(0 < r.share < 1 and r.vs_uniform > 0 for r in rows)


def test_session_transitions_subset_of_global(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        events_session_transition_matrix,
    )

    rows = events_session_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_cur = {}
    for r in rows:
        by_cur.setdefault(r.cur_type, []).append(r)
    for cur, rs in by_cur.items():
        assert abs(sum(r.p_next for r in rs) - 1.0) < 1e-3, cur


def test_multiplicative_decomp_ratios_center_on_one(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        analytics_multiplicative_decomp,
    )

    rows = analytics_multiplicative_decomp(spark, sf_dir).collect()
    assert {r.dow for r in rows} == set(range(1, 8))
    weighted = sum(r.seasonal_ratio * r.n_days for r in rows) / sum(
        r.n_days for r in rows
    )
    assert 0.9 < weighted < 1.1  # ratios-to-own-trend center near 1


def test_rolling_time_stats_window_is_clock_based(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        ROLL_TIME_S,
        window_rolling_time_stats,
    )

    got = {r.event_id: r.n_2h
           for r in window_rolling_time_stats(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    ).collect()
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    tol = ROLL_TIME_S * 1_000_000
    import itertools

    for r in itertools.islice(ev, 0, 300, 11):
        want = sum(
            1 for o in by_user[r.user_id] if 0 <= r.us - o.us <= tol
        )
        assert got[r.event_id] == want


def test_rdd_jump_matches_python(spark, sf_dir):
    from big_data_audio_classification_spark.operators.experiments import (
        RDD_BANDWIDTH,
        RDD_CUTOFF,
        stats_rdd_local_means,
    )

    [row] = stats_rdd_local_means(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderpriority"
    ).collect()
    lo, hi = RDD_CUTOFF - RDD_BANDWIDTH, RDD_CUTOFF + RDD_BANDWIDTH
    w = [(r.o_totalprice, r.o_orderpriority in ("1-URGENT", "2-HIGH"))
         for r in o if lo <= r.o_totalprice < hi]
    below = [y for x, y in w if x < RDD_CUTOFF]
    above = [y for x, y in w if x >= RDD_CUTOFF]
    assert row.n_below == len(below) and row.n_above == len(above)
    jump = np.mean(above) - np.mean(below)
    assert abs(row.jump_estimate - round(float(jump), 6)) <= 1e-5


def test_array_deltas_matches_numpy(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        DELTA_PREFIX,
        udtf_array_deltas,
    )

    got = sorted(
        (r.vec_id, r.pos, r.delta)
        for r in udtf_array_deltas(spark, sf_dir).collect()
    )
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).collect()
    want = []
    for r in em:
        for i in range(min(DELTA_PREFIX, len(r.e) - 1)):
            want.append((r.vec_id, i + 1, round(r.e[i + 1] - r.e[i], 6)))
    assert got == sorted(want)


def test_iqr_udaf_matches_numpy(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_pandas_udaf_iqr,
    )

    got = {r.priority: r.iqr for r in agg_pandas_udaf_iqr(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    groups = {}
    for r in o:
        groups.setdefault(r.o_orderpriority, []).append(r.o_totalprice)
    for p, vals in groups.items():
        q75, q25 = np.percentile(np.array(vals), [75, 25], method="linear")
        assert abs(got[p] - round(float(q75 - q25), 4)) <= 1e-3


def test_zcr_bounds_and_coverage(spark, sf_dir):
    from big_data_audio_classification_spark.operators.audio import (
        audio_zero_crossing_rate,
    )

    rows = audio_zero_crossing_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_crossings <= r.n_steps
        if r.zcr is not None:
            assert 0.0 <= r.zcr <= 1.0
    n = load_table(spark, sf_dir, "events").count()
    n_users = load_table(spark, sf_dir, "events").select(
        "user_id"
    ).distinct().count()
    # every sample except each user's first contributes one step
    assert sum(r.n_steps for r in rows) == n - n_users


def test_ordinal_freq_encoding_is_bijective_ranking(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_ordinal_freq_encoding,
    )

    rows = ml_ordinal_freq_encoding(spark, sf_dir).collect()
    codes = sorted(r.ord_code for r in rows)
    assert codes == list(range(1, len(rows) + 1))
    by_code = sorted(rows, key=lambda r: r.ord_code)
    cnts = [r.cnt for r in by_code]
    assert cnts == sorted(cnts, reverse=True)
    assert all(r.n_rows_encoded == r.cnt for r in rows)
    assert abs(sum(r.freq_share for r in rows) - 1.0) < 1e-4


def test_variance_selection_matches_numpy(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_variance_ratio_selection,
    )

    rows = ml_variance_ratio_selection(spark, sf_dir).collect()
    em = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    ).collect()
    X = np.array([r.e for r in em])
    v = X.var(axis=0)
    order = np.argsort(-v, kind="stable")
    want_top = [int(order[i]) + 1 for i in range(len(rows))]
    got_top = [r.feature for r in rows]
    assert got_top == want_top
    for r in rows[:3]:
        assert abs(r.variance - round(float(v[r.feature - 1]), 6)) <= 1e-5


def test_math_factorial_bits_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_math_factorial_bits,
    )

    rows = scalar_math_factorial_bits(spark, sf_dir).limit(200).collect()
    for r in rows:
        assert r.line_fact == math.factorial(r.l_linenumber)
        assert r.key_popcount == bin(r.l_orderkey).count("1")
        assert r.line_shifted == (r.l_linenumber << 4) | 1
