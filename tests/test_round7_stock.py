"""Replay/invariant tests for the round-7-built stock carriers
(now in the family operator modules) and the r07 additions. Oracle-independent
properties only — the tri-SF bit-exact gate owns value parity."""

from __future__ import annotations

import json
import math

import numpy as np
import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def test_asof_forward_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    from big_data_audio_classification_spark.operators.relational import (
        ASOF_FWD_TOLERANCE_S,
        join_asof_forward_tolerance,
    )

    got = {
        r.error_id: (r.next_purchase_id, r.recovered)
        for r in join_asof_forward_tolerance(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").toPandas()
    errors = ev[ev.event_type == "error"]
    purchases = ev[ev.event_type == "purchase"]
    assert len(got) == len(errors)
    for _, e in errors.iterrows():
        cand = purchases[
            (purchases.user_id == e.user_id)
            & (purchases.ts >= e.ts)
            & (
                purchases.ts - e.ts
                <= pd.Timedelta(seconds=ASOF_FWD_TOLERANCE_S)
            )
        ].sort_values(["ts", "event_id"])
        want = (
            (int(cand.iloc[0].event_id), True) if len(cand) else (None, False)
        )
        assert got[e.event_id] == want


def test_multiset_setops_algebra(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        set_multiset_intersect_except,
    )

    [row] = set_multiset_intersect_except(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    n_f = o.filter(F.col("o_orderstatus") == "F").count()
    # |A ∩all B| + |A −all B| == |A| is the bag-algebra identity
    assert row.n_intersect_all + row.n_except_all == n_f
    assert row.n_intersect_distinct <= row.n_intersect_all
    assert row.n_except_distinct <= row.n_except_all


def test_correlated_above_avg_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        subquery_correlated_above_avg,
    )

    got = {
        r.priority: r.n_above
        for r in subquery_correlated_above_avg(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders").toPandas()
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    g = o.groupby("o_custkey").cents.agg(["sum", "count"])
    o = o.join(g, on="o_custkey")
    above = o[o.cents * o["count"] > o["sum"]]
    want = above.groupby("o_orderpriority").size().to_dict()
    assert got == want


def test_point_in_interval_matches_python(spark, sf_dir):
    import pandas as pd

    from big_data_audio_classification_spark.operators.relational import (
        PII_WINDOW_H,
        join_range_point_in_interval,
    )

    got = {
        r.signup_id: r.n_clicks_in_window
        for r in join_range_point_in_interval(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").toPandas()
    signups = ev[ev.event_type == "signup"]
    clicks = ev[ev.event_type == "click"]
    assert len(got) == len(signups)
    for _, s in signups.iterrows():
        hi = s.ts + pd.Timedelta(hours=PII_WINDOW_H)
        n = int(
            (
                (clicks.user_id == s.user_id)
                & (clicks.ts >= s.ts)
                & (clicks.ts < hi)
            ).sum()
        )
        assert got[s.event_id] == n


def test_kmv_sketch_exact_fallback_and_error(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        KMV_DISTINCT_K as KMV_K,
        agg_kmv_distinct_sketch,
    )

    for r in agg_kmv_distinct_sketch(spark, sf_dir).collect():
        if r.n_distinct_exact < KMV_K:
            assert r.kmv_estimate == r.n_distinct_exact
        else:
            # bottom-k estimator stderr ~ 1/sqrt(k-2); allow 4 sigma
            rel = abs(r.kmv_estimate - r.n_distinct_exact) / r.n_distinct_exact
            assert rel < 4.0 / math.sqrt(KMV_K - 2)


def test_grouping_id_subtotal_levels(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_grouping_id_subtotals,
    )

    rows = agg_grouping_id_subtotals(spark, sf_dir).collect()
    assert {r.gid for r in rows} == {1, 3}
    [total] = [r for r in rows if r.gid == 3]
    assert total.n == load_table(spark, sf_dir, "orders").count()
    assert sum(r.n for r in rows if r.gid == 1) == total.n


def test_decile_ratio_udaf_matches_numpy(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_pandas_udaf_decile_ratio,
    )

    got = {
        r.status: r.decile_iqr_ratio
        for r in agg_pandas_udaf_decile_ratio(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    for status, grp in li.groupby("l_linestatus"):
        arr = grp.l_extendedprice.to_numpy(dtype=np.float64)
        p90, p75, p25, p10 = np.percentile(arr, [90, 75, 25, 10])
        assert abs(got[status] - round((p90 - p10) / (p75 - p25), 4)) <= 1e-3


def test_inverse_trig_identities(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_math_inverse_trig,
    )

    rows = scalar_math_inverse_trig(spark, sf_dir).limit(500).collect()
    for r in rows:
        assert abs(r.angle_deg - math.degrees(r.angle_rad)) <= 2e-4
        assert 0.0 <= r.angle_rad <= math.pi / 2
        assert r.disc_side in (-1, 0, 1)
        assert r.price_cbrt > 0


def test_json_object_shape_constants(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_json_object_shape,
    )

    rows = scalar_json_object_shape(spark, sf_dir).limit(200).collect()
    for r in rows:
        assert r.keys_sorted == "k,type,vals"
        assert r.n_keys == 3 and r.n_vals == 2
        assert r.first_val == r.event_id % 5


def test_variant_mixed_scalar_nulls(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_variant_mixed_scalars,
    )

    rows = scalar_variant_mixed_scalars(spark, sf_dir).limit(200).collect()
    for r in rows:
        assert r.z_is_null is True and r.missing_null is True
        assert r.b_typed == (r.event_id % 2 == 0)
        assert r.f_typed == r.event_id % 7 + 0.5


def test_array_set_algebra_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        array_sequence_set_algebra,
    )

    rows = array_sequence_set_algebra(spark, sf_dir).limit(300).collect()
    for r in rows:
        a = set(range(r.o_orderkey % 7, r.o_orderkey % 7 + 6))
        b = set(range(r.o_orderkey % 5, r.o_orderkey % 5 + 5))
        assert r.n_intersect == len(a & b)
        assert r.n_union == len(a | b)
        assert r.n_a_only == len(a - b)
        assert r.b_subset_of_a == b.issubset(a)


def test_map_histogram_accounts_every_event(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_map_user_type_histogram,
    )

    rows = scalar_map_user_type_histogram(spark, sf_dir).collect()
    per_user = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(rows) == len(per_user)
    for r in rows:
        hist = json.loads(r.hist_json)
        assert sum(hist.values()) == per_user[r.user_id]
        assert len(hist) == r.n_types
        assert max(hist.values()) == r.max_type_n
        assert list(hist) == sorted(hist)


def test_lsh_bucket_profile_consistency(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_lsh_bucket_profile,
    )

    rows = dedup_lsh_bucket_profile(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == 4
    for r in rows:
        assert r.n_buckets <= n_docs
        assert r.pair_mass >= r.max_bucket * (r.max_bucket - 1) // 2
        assert r.n_singletons <= r.n_buckets


def test_simhash_prefix_schedule_monotone(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_prefix_schedule,
    )

    rows = sorted(
        dedup_simhash_prefix_schedule(spark, sf_dir).collect(),
        key=lambda r: r.prefix_bits,
    )
    assert [r.prefix_bits for r in rows] == [8, 16, 24]
    for a, b in zip(rows, rows[1:]):
        assert b.n_buckets >= a.n_buckets      # finer prefix splits buckets
        assert b.pair_mass <= a.pair_mass      # ...and sheds candidates


def test_bm25_descending_and_matching(spark, sf_dir):
    from big_data_audio_classification_spark.operators.text import (
        text_bm25_rank,
    )

    rows = sorted(text_bm25_rank(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert all(r.tf1 + r.tf2 + r.tf3 > 0 for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a.bm25 >= b.bm25


def test_jm_loglik_python_replay_spotcheck(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        JM_LAMBDA,
        JM_TERMS,
        text_lm_jelinek_mercer,
    )

    rows = text_lm_jelinek_mercer(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").collect()
    toks = {d.doc_id: [t for t in d.text.split(" ") if t] for d in docs}
    clen = sum(len(v) for v in toks.values())
    cf = {
        t: sum(v.count(t) for v in toks.values()) for t in JM_TERMS
    }
    for r in rows[:25]:
        dl = len(toks[r.doc_id])
        ll = sum(
            math.log(
                JM_LAMBDA * toks[r.doc_id].count(t) / dl
                + (1 - JM_LAMBDA) * cf[t] / clen
            )
            for t in JM_TERMS
        )
        assert abs(r.query_loglik - round(ll, 6)) <= 1e-5
        assert r.dl == dl


def test_ivf_margin_invariants(spark, sf_dir):
    from big_data_audio_classification_spark.operators.similarity import (
        sim_ivf_second_choice_margin,
    )

    rows = sim_ivf_second_choice_margin(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n_vecs
    for r in rows:
        assert 0 <= r.cell_id < 8
        assert r.min_margin >= 0.0
        assert r.mean_margin >= r.min_margin
        assert 0 <= r.n_ambiguous <= r.n_vectors


def test_mrmr_rank_orders_scores(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_mrmr_feature_rank,
    )

    rows = sorted(ml_mrmr_feature_rank(spark, sf_dir).collect(),
                  key=lambda r: r.rank)
    assert [r.dim for r in rows] != [] and len(rows) == 7
    for a, b in zip(rows, rows[1:]):
        assert a.mrmr_score >= b.mrmr_score
        assert abs(a.mrmr_score - (abs(a.relevance) - abs(a.redundancy))) <= 2e-6
        assert -1.0 <= a.relevance <= 1.0 and -1.0 <= a.redundancy <= 1.0


def test_count_encoding_shrinks_toward_prior(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_count_encoding_smoothed,
    )

    rows = ml_count_encoding_smoothed(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey)
    prior = base.agg(F.avg("o_totalprice")).first()[0]
    raw = {
        r.c_mktsegment: r.m
        for r in base.groupBy("c_mktsegment")
        .agg(F.avg("o_totalprice").alias("m"))
        .collect()
    }
    assert abs(sum(r.freq_encoding for r in rows) - 1.0) <= 1e-6
    for r in rows:
        # m-estimate sits strictly between the raw mean and the prior
        lo, hi = sorted((raw[r.segment], prior))
        assert lo - 0.01 <= r.target_encoding <= hi + 0.01


def test_ref_parity_shares_partition_unity(spark, sf_dir):
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        ref_parity_duration_shares,
    )

    rows = ref_parity_duration_shares(spark, sf_dir).collect()
    assert {r.speaker for r in rows} == {"Male", "Female"}
    assert abs(sum(r.dur_share for r in rows) - 1.0) <= 1e-6
    assert sum(r.speaker_dur for r in rows) == max(r.last_cum_second for r in rows)


def test_crest_factor_at_least_one(spark, sf_dir):
    from big_data_audio_classification_spark.operators.audio import (
        audio_crest_factor,
    )

    for r in audio_crest_factor(spark, sf_dir).collect():
        # peak >= RMS always, for a nonnegative signal
        assert r.min_crest >= 1.0 - 1e-6
        assert r.min_crest <= r.mean_crest <= r.max_crest


def test_salt_plan_invariants(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scale_patterns import (
        skew_salt_factor_plan,
    )

    rows = skew_salt_factor_plan(spark, sf_dir).collect()
    for r in rows:
        assert r.needs_salting == (r.salt_k > 1)
        assert r.max_salted_load <= r.target_rows
        assert r.salt_k * r.max_salted_load >= r.freq


def test_session_deciles_monotone(spark, sf_dir):
    from big_data_audio_classification_spark.operators.analytics import (
        events_session_duration_deciles,
    )

    rows = sorted(
        events_session_duration_deciles(spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 10))
    for a, b in zip(rows, rows[1:]):
        assert a.dur_s <= b.dur_s


def test_word_bigrams_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        BIGRAM_DOC_CAP,
        BIGRAM_PREFIX,
        udtf_word_bigrams,
    )

    got = {}
    for r in udtf_word_bigrams(spark, sf_dir).collect():
        got.setdefault(r.doc_id, {})[r.pos] = r.bigram
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BIGRAM_DOC_CAP)
        .collect()
    )
    for d in docs:
        toks = [t for t in d.text.split(" ") if t]
        want = {
            i + 1: toks[i] + " " + toks[i + 1]
            for i in range(min(BIGRAM_PREFIX, len(toks) - 1))
        }
        assert got.get(d.doc_id, {}) == want


def test_tsv_roundtrip_preserves_population(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        sink_csv_tsv_dialect_roundtrip,
    )

    rows = sink_csv_tsv_dialect_roundtrip(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert sum(r.n for r in rows) == d.count()
    assert sum(r.n_nonen_null for r in rows) == d.filter(
        F.col("lang") != "en"
    ).count()


def test_rolling_skew_kurt_numpy_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        RSK_WINDOW,
        window_rolling_skew_kurt,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .limit(4000)
        .collect()
    )
    uid = ev[0].user_id
    series = [
        round(r.value * 100)
        for r in sorted(
            (r for r in ev if r.user_id == uid),
            key=lambda r: (r.ts, r.event_id),
        )
    ]
    got = {
        r.event_id: (r.n, r.roll_skew, r.roll_kurt)
        for r in window_rolling_skew_kurt(spark, sf_dir).collect()
    }
    ordered_ids = [
        r.event_id
        for r in sorted(
            (r for r in ev if r.user_id == uid),
            key=lambda r: (r.ts, r.event_id),
        )
    ]
    for i in (10, 40, min(90, len(series) - 1)):
        lo = max(0, i - RSK_WINDOW)
        win = np.array(series[lo : i + 1], dtype=np.float64)
        n, skew, kurt = got[ordered_ids[i]]
        assert n == len(win)
        if skew is not None:
            m = win.mean()
            m2 = ((win - m) ** 2).mean()
            m3 = ((win - m) ** 3).mean()
            m4 = ((win - m) ** 4).mean()
            assert abs(skew - m3 / m2 ** 1.5) <= 1e-4
            assert abs(kurt - (m4 / m2 ** 2 - 3.0)) <= 1e-4


def test_dow_profile_effects_average_out(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        analytics_dow_additive_profile,
    )

    rows = analytics_dow_additive_profile(spark, sf_dir).collect()
    assert len(rows) == 7
    weighted = sum(r.n_days * r.dow_effect for r in rows)
    assert abs(weighted) <= 0.01 * sum(r.n_days for r in rows)
    for r in rows:
        assert r.remainder_mad >= 0.0


def test_stratified_ate_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.experiments import (
        stats_stratified_ate,
    )

    got = {
        r.stratum: (r.n1, r.n0, r.diff_dollars)
        for r in stats_stratified_ate(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    df = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "c_custkey", "o_totalprice"
    ).toPandas()
    df["treated"] = df.c_custkey % 2 == 1
    for seg, grp in df.groupby("c_mktsegment"):
        t, ctl = grp[grp.treated], grp[~grp.treated]
        n1, n0, diff = got[seg]
        assert (n1, n0) == (len(t), len(ctl))
        assert abs(diff - (t.o_totalprice.mean() - ctl.o_totalprice.mean())) <= 0.02


def test_pipeline_metadata_contract_shape(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml_inference import (
        ml_pipeline_metadata_contract,
    )

    rows = ml_pipeline_metadata_contract(spark, sf_dir).collect()
    assert len(rows) == 10
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r.stage_idx, set()).add(r.stage_class)
    assert by_stage[0] == {"VectorAssembler"}
    assert by_stage[1] == {"StringIndexerModel"}
    assert by_stage[2] == {"MultilayerPerceptronClassificationModel"}


def test_stock_r7_plans_no_cartesian(spark, sf_dir):
    """No accidental cartesian products: every crossJoin in the new
    carriers is against a broadcast 1-row (or tiny constant) frame."""
    from big_data_audio_classification_spark.registry import spark_queries

    fns = spark_queries()
    for name in (
        "join_range_point_in_interval",
        "dedup_lsh_bucket_profile",
        "text_bm25_rank",
        "ml_count_encoding_smoothed",
        "stats_stratified_ate",
    ):
        plan = (
            fns[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, name
