"""Replay/invariant tests for the round-7 tranche-2 stock carriers
(now in the family operator modules). Oracle-independent properties only —
the tri-SF bit-exact gate owns value parity."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def test_asof_cross_table_pandas_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        join_asof_cross_table,
    )

    got = {
        r.o_orderkey: (r.last_event_id, r.matched)
        for r in join_asof_cross_table(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").toPandas()
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .toPandas()
    )
    assert len(got) == len(orders)
    for _, o in orders.iterrows():
        ch = o.o_custkey % 150
        cand = ev[(ev.user_id == ch) & (ev.ts <= o.o_orderdate)]
        if len(cand):
            best = cand.sort_values(["ts", "event_id"]).iloc[-1]
            assert got[o.o_orderkey] == (best.event_id, True)
        else:
            assert got[o.o_orderkey] == (None, False)


def test_semi_anti_partition_identity(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        set_semi_anti_census,
    )

    [r] = set_semi_anti_census(spark, sf_dir).collect()
    assert r.n_semi + r.n_anti == r.n_left


def test_theta_sketch_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        THETA_K,
        agg_theta_sketch_setops,
    )

    [r] = agg_theta_sketch_setops(spark, sf_dir).collect()
    if r.exact_mode:
        assert r.union_estimate == r.n_union_exact
    else:
        rel = abs(r.union_estimate - r.n_union_exact) / r.n_union_exact
        assert rel < 4.0 / math.sqrt(THETA_K - 2)
    assert 0 <= r.k_inter_hits < THETA_K


def test_cube_grouping_sets_lattice(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_cube_as_grouping_sets,
    )

    rows = agg_cube_as_grouping_sets(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    # every lattice level partitions the full row count
    for gid, members in by_gid.items():
        assert sum(m.n for m in members) == n_orders, gid


def test_integer_bits_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_math_integer_bits,
    )

    for r in scalar_math_integer_bits(spark, sf_dir).limit(300).collect():
        k = r.o_orderkey
        assert r.popcount == bin(k).count("1")
        assert r.shl3 == k << 3 and r.shr2 == k >> 2
        assert r.xor255 == k ^ 255 and r.low10 == k & 1023
        assert r.or4096 == k | 4096 and r.pmod7 == k % 7


def test_edit_distance_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_string_edit_distance,
    )

    rows = scalar_string_edit_distance(spark, sf_dir).limit(100).collect()
    names = {
        r.c_custkey: r.c_name
        for r in load_table(spark, sf_dir, "customer").limit(2000).collect()
    }
    for r in rows:
        name = names[r.c_custkey]
        assert r.name_len == len(name)
        assert r.name_prefix == name[:9]
        assert r.name_suffix == name[-4:]
        assert r.suffix_rev == name[-4:][::-1]
        assert r.last_x3 == name[-1] * 3


def test_variant_tree_branch_presence(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_variant_object_tree,
    )

    for r in scalar_variant_object_tree(spark, sf_dir).limit(300).collect():
        assert r.has_c == (r.event_id % 3 == 0)
        assert r.cx == (9 if r.event_id % 3 == 0 else None)
        assert r.x_total == r.ax + r.bx + (9 if r.event_id % 3 == 0 else 0)


def test_array_histogram_partitions_vector(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        AHIST_BINS,
        array_value_histogram,
    )

    for r in array_value_histogram(spark, sf_dir).limit(100).collect():
        total = sum(r[f"bin{i}"] for i in range(AHIST_BINS)) + r.n_outside
        assert total == 64  # every element lands in exactly one bucket


def test_map_transform_arith_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_map_transform_arith,
    )

    for r in scalar_map_transform_arith(spark, sf_dir).limit(300).collect():
        k = r.o_orderkey
        a, b, c = k % 5, k % 7, k % 9
        assert (r.a_scaled, r.b_scaled, r.c_scaled) == (a * 10, b * 10, c * 10)
        assert r.v_total == a + b + c
        assert r.n_big == sum(v >= 3 for v in (a, b, c))


def test_minhash_containment_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_minhash_containment_est,
    )

    rows = dedup_minhash_containment_est(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.jaccard_est <= 1.0
        assert 0.0 <= r.containment_exact <= 1.0
        # containment >= jaccard always (min <= union)
        assert r.containment_exact >= r.n_inter / (2 * r.min_sz)


def test_lsh_band_multiplicity_domain(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_lsh_band_multiplicity,
    )

    rows = dedup_lsh_band_multiplicity(spark, sf_dir).collect()
    assert all(1 <= r.n_bands_agree <= 4 for r in rows)
    assert sum(r.n_pairs for r in rows) > 0


def test_simhash_sensitivity_small_flips(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_sensitivity,
    )

    rows = dedup_simhash_sensitivity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.hamming_flip <= 32
        assert r.stable == (r.hamming_flip == 0)
    # the whole point: one-token edits flip FEW bits on average
    avg = sum(r.hamming_flip for r in rows) / len(rows)
    assert avg < 16


def test_rarity_profile_covers_vocab(spark, sf_dir):
    from big_data_audio_classification_spark.operators.text import (
        text_tfidf_rarity_profile,
    )

    rows = text_tfidf_rarity_profile(spark, sf_dir).collect()
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("t"))
        .distinct()
        .count()
    )
    assert sum(r.n_terms for r in rows) == vocab
    for r in rows:
        assert r.min_df <= r.max_df


def test_good_turing_identities(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        text_lm_good_turing,
    )

    rows = {r.r: r for r in text_lm_good_turing(spark, sf_dir).collect()}
    assert rows
    for r, row in rows.items():
        assert row.n_r > 0
        nxt = rows.get(r + 1)
        if nxt is not None:
            assert abs(row.r_star - round((r + 1) * nxt.n_r / row.n_r, 6)) <= 1e-9


def test_nprobe_cost_monotone(spark, sf_dir):
    from big_data_audio_classification_spark.operators.similarity import (
        sim_ivf_nprobe_cost_model,
    )

    rows = sorted(
        sim_ivf_nprobe_cost_model(spark, sf_dir).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert b.total_scanned > a.total_scanned
        assert a.n_queries == b.n_queries


def test_fisher_score_positive_and_ranked(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_fisher_score_selection,
    )

    rows = sorted(
        ml_fisher_score_selection(spark, sf_dir).collect(), key=lambda r: r.rank
    )
    assert len(rows) == 8
    for a, b in zip(rows, rows[1:]):
        assert a.fisher_score >= b.fisher_score
        assert a.fisher_score >= 0.0


def test_hashing_trick_accounts_all_rows(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_hashing_trick_encoding,
    )

    rows = ml_hashing_trick_encoding(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_rows for r in rows) == n_orders
    assert sum(r.n_cats for r in rows) == 5  # the 5 priorities
    for r in rows:
        assert r.collided == (r.n_cats > 1)
        assert len(r.cats.split(",")) == r.n_cats


def test_keep_policy_differs_iff_multi(spark, sf_dir):
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        ref_dedup_keep_policy,
    )

    for r in ref_dedup_keep_policy(spark, sf_dir).collect():
        assert r.keep_first <= r.keep_last
        assert r.policy_differs == (r.keep_first != r.keep_last)
        if r.n_members == 1:
            assert not r.policy_differs


def test_week_containment_excludes_spanners(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        join_range_week_containment,
    )

    rows = join_range_week_containment(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_contained > 0
        # a contained session is < 7 days long
        assert r.contained_seconds < r.n_contained * 7 * 86400


def test_gini_in_unit_interval(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scale_patterns import (
        skew_key_gini_imbalance,
    )

    [r] = skew_key_gini_imbalance(spark, sf_dir).collect()
    assert 0.0 <= r.gini < 1.0
    assert r.excess_mass >= 0


def test_bounce_rate_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.analytics import (
        events_session_bounce_rate,
    )

    rows = events_session_bounce_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_bounces <= r.n_sessions
        assert abs(r.bounce_rate - r.n_bounces / r.n_sessions) <= 1e-6


def test_prefix_stats_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        PREFIX_STATS_N,
        udtf_prefix_running_stats,
    )

    got = {}
    for r in udtf_prefix_running_stats(spark, sf_dir).collect():
        got.setdefault(r.vec_id, {})[r.pos] = (r.run_sum, r.run_min, r.run_max)
    embs = load_table(spark, sf_dir, "embeddings").limit(20).collect()
    for e in embs:
        s = 0.0
        mn = mx = float(e.embedding[0])
        for i in range(PREFIX_STATS_N):
            v = float(e.embedding[i])
            s += v
            mn, mx = min(mn, v), max(mx, v)
            assert got[e.vec_id][i + 1] == (
                round(s, 6), round(mn, 6), round(mx, 6)
            )


def test_midhinge_matches_numpy(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_pandas_udaf_midhinge,
    )

    got = {
        r.status: r.midhinge
        for r in agg_pandas_udaf_midhinge(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders").toPandas()
    for status, grp in o.groupby("o_orderstatus"):
        q25, q75 = np.percentile(
            grp.o_totalprice.to_numpy(np.float64), [25, 75]
        )
        assert abs(got[status] - round((q25 + q75) / 2, 4)) <= 1e-3


def test_quoted_csv_preserves_masses(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        sink_csv_quoted_fields_roundtrip,
    )

    [r] = sink_csv_quoted_fields_roundtrip(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert r.n == d.count()
    assert r.n_with_delim == r.n  # every tricky field carries the delimiter


def test_rolling_ratio_band_consistency(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        window_rolling_sum_ratio,
    )

    rows = window_rolling_sum_ratio(spark, sf_dir).limit(2000).collect()
    for r in rows:
        if r.band == "warmup":
            assert r.momentum is None
        else:
            assert r.momentum is not None
            if r.band == "hot":
                assert r.momentum > 1.2 - 1e-9
            elif r.band == "cold":
                assert r.momentum < 0.8 + 1e-9


def test_weekpart_effects_average_out(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        analytics_weekpart_decomp,
    )

    rows = analytics_weekpart_decomp(spark, sf_dir).collect()
    assert {r.part for r in rows} == {"weekday", "weekend"}
    weighted = sum(r.n_days * r.part_effect for r in rows)
    assert abs(weighted) <= 0.01 * sum(r.n_days for r in rows)


def test_iv_wald_identity(spark, sf_dir):
    from big_data_audio_classification_spark.operators.experiments import (
        stats_iv_wald_estimator,
    )

    [r] = stats_iv_wald_estimator(spark, sf_dir).collect()
    assert r.first_stage > 0.1  # strong instrument by construction
    assert abs(r.late_dollars - round(r.itt_dollars / r.first_stage, 4)) <= 0.02


def test_phase_energy_accounts_total(spark, sf_dir):
    from big_data_audio_classification_spark.operators.audio import (
        audio_phase_energy_ratio,
    )

    rows = audio_phase_energy_ratio(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    total = e.select(
        F.sum(
            F.round(F.col("value") * 100).cast("bigint")
            * F.round(F.col("value") * 100).cast("bigint")
        ).alias("t")
    ).first().t
    assert sum(r.odd_energy + r.even_energy for r in rows) == total
    for r in rows:
        assert r.phase_ratio > 0


def test_payload_byte_histogram_accounts_chars(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_byte_histogram,
    )

    rows = mm_payload_byte_histogram(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    total_chars = d.select(F.sum(F.length("text"))).first()[0]
    assert sum(r.n_bytes for r in rows) == total_chars
    n_docs = d.count()
    for r in rows:
        assert 0 < r.n_docs <= n_docs


def test_sql_pivot_matches_dataframe_pivot(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        sql_pivot_status_matrix,
    )

    got = {
        r.priority: (r.f_n, r.o_n, r.p_n)
        for r in sql_pivot_status_matrix(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    df = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )
    for r in df.collect():
        assert got[r.o_orderpriority] == (r.F, r.O, r.P)
