"""Replay/invariant tests for the round-8 tranche-2 pre-stock carriers
(now in the family operator modules). Oracle-independent properties only —
the tri-SF bit-exact gate owns value parity."""

from __future__ import annotations

import math
import zlib

import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def test_pad_overlay_matches_python(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_string_pad_overlay,
    )

    rows = scalar_string_pad_overlay(spark, sf_dir).limit(200).collect()
    for r in rows:
        key = str(r.o_orderkey)
        assert r.key_lpad == key.rjust(12, "0")
        assert r.lpad_len == 12
        assert len(r.prio_rpad) == 16 and r.prio_rpad.rstrip(".").strip()
        assert r.prio_masked[2:4] == "##"


def test_rounding_battery_identities(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_math_rounding_battery,
    )

    rows = scalar_math_rounding_battery(spark, sf_dir).limit(500).collect()
    for r in rows:
        cents = r.floor_usd * 100 + r.rem_cents
        # exact ceil: floor when rem==0, floor+1 otherwise
        assert r.ceil_usd == r.floor_usd + (1 if r.rem_cents else 0)
        assert r.half_up_usd == r.floor_usd + (1 if r.rem_cents >= 50 else 0)
        # positive prices: trunc == floor, rem == mod
        assert r.trunc_usd == r.floor_usd
        assert r.mod_cents == r.rem_cents
        assert 0 <= r.mod_cents < 100
        assert cents >= 0


def test_json_flatten_kv_covers_every_field(spark, sf_dir):
    import json

    from big_data_audio_classification_spark.operators.scalars import (
        scalar_json_flatten_kv,
    )

    got = {}
    for r in scalar_json_flatten_kv(spark, sf_dir).collect():
        got.setdefault(r.event_id, {})[r.k] = (r.v_text, r.v_is_int)
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    for r in ev.limit(300).collect():
        doc = json.loads(r.props)
        assert set(got[r.event_id]) == set(doc)
        for k, v in doc.items():
            text, is_int = got[r.event_id][k]
            assert str(v) == text or text == str(v).lower()
            assert is_int == isinstance(v, int)


def test_running_extrema_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        AREX_Q,
        array_running_extrema,
    )

    got = {
        r.vec_id: (r.n_running_max_updates, r.n_running_min_updates)
        for r in array_running_extrema(spark, sf_dir).collect()
    }
    em = load_table(spark, sf_dir, "embeddings").limit(50).collect()
    for r in em:
        q = [round(float(x) * AREX_Q) for x in r.embedding]
        nmax = sum(1 for i in range(len(q)) if q[i] == max(q[: i + 1]))
        nmin = sum(1 for i in range(len(q)) if q[i] == min(q[: i + 1]))
        assert got[r.vec_id] == (nmax, nmin)


def test_map_filter_concat_dense_and_threshold(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        MAPF_MIN_COUNT,
        scalar_map_filter_concat,
    )

    df = scalar_map_filter_concat(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    n_types = e.select("event_type").distinct().count()
    assert df.count() == n_users * n_types  # dense by construction
    bad = df.filter(
        (F.col("survived_filter") & (F.col("n_effective") < MAPF_MIN_COUNT))
        | (~F.col("survived_filter") & (F.col("n_effective") != 0))
    ).count()
    assert bad == 0


def test_oneperm_census_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        OPH_BUCKETS,
        dedup_minhash_oneperm_census,
    )

    rows = dedup_minhash_oneperm_census(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    for r in rows:
        assert 1 <= r.n_filled <= OPH_BUCKETS
        assert 0 <= r.first_filled <= r.last_filled < OPH_BUCKETS


def test_amplification_curve_is_monotone_and_bounded(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_lsh_amplification_curve,
    )

    rows = sorted(
        dedup_lsh_amplification_curve(spark, sf_dir).collect(),
        key=lambda r: r.jbin,
    )
    assert rows, "sample produced no positive-jaccard pairs"
    for r in rows:
        assert 0.0 <= r.empirical_rate <= 1.0
        assert 0.0 <= r.theoretical_rate <= 1.0
        assert r.n_collided <= r.n_pairs
    # theoretical S-curve is strictly increasing in the bin
    theos = [r.theoretical_rate for r in rows]
    assert theos == sorted(theos)


def test_rotation_profile_conserves_mass(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_rotation_profile,
    )

    rows = dedup_simhash_rotation_profile(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == 4
    for r in rows:
        assert r.max_bucket >= 1 and r.n_buckets <= docs
        # Sum of bucket sizes = n_docs for every rotation; pair mass is
        # bounded by the all-in-one-bucket worst case
        assert r.pair_mass <= docs * (docs - 1) // 2


def test_pivoted_norm_topk_contract(spark, sf_dir):
    from big_data_audio_classification_spark.operators.text import (
        PIV_TOPK,
        text_tfidf_pivoted_norm,
    )

    rows = text_tfidf_pivoted_norm(spark, sf_dir).collect()
    assert 0 < len(rows) <= PIV_TOPK
    scores = [r.piv_score for r in sorted(rows, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.tf1 + r.tf2 + r.tf3 > 0


def test_kneser_ney_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        KN_TERMS,
        text_lm_kneser_ney_unigram,
    )

    got = {r.term: r for r in text_lm_kneser_ney_unigram(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    bigrams = set()
    n_tokens = 0
    uni = {t: 0 for t in KN_TERMS}
    cont = {t: set() for t in KN_TERMS}
    for d in docs:
        toks = [t for t in d.text.split(" ") if t]
        n_tokens += len(toks)
        for t in KN_TERMS:
            uni[t] += toks.count(t)
        for a, b in zip(toks, toks[1:]):
            bigrams.add((a, b))
            if b in cont:
                cont[b].add(a)
    for t in KN_TERMS:
        r = got[t]
        assert r.cont_types == len(cont[t])
        assert r.n_bigram_types == len(bigrams)
        assert abs(r.p_continuation - len(cont[t]) / len(bigrams)) < 1e-5
        assert abs(r.p_mle - uni[t] / n_tokens) < 1e-5


def test_bloom_filter_replay(spark, sf_dir):
    import hashlib

    from big_data_audio_classification_spark.operators.sketch_cms import (
        BLOOM_K,
        BLOOM_M,
        sketch_bloom_filter_portable,
    )

    [row] = sketch_bloom_filter_portable(spark, sf_dir).collect()
    c = load_table(spark, sf_dir, "customer").collect()

    def positions(key):
        h = hashlib.md5(str(key).encode()).hexdigest()
        return [int(h[6 * j : 6 * j + 6], 16) % BLOOM_M for j in range(BLOOM_K)]

    ins = [r.c_custkey for r in c if r.c_mktsegment == "BUILDING"]
    probe = [r.c_custkey for r in c if r.c_mktsegment == "MACHINERY"]
    bits = {p for k in ins for p in positions(k)}
    n_fp = sum(1 for k in probe if all(p in bits for p in positions(k)))
    assert row.n_inserted == len(ins)
    assert row.n_bits_set == len(bits)
    assert row.n_probed == len(probe)
    assert row.n_false_pos == n_fp
    assert 0.0 <= row.measured_fpr <= 1.0


def test_dense_rank_topk_keeps_all_ties(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        TOPK_TIED_K,
        topk_tied_dense_rank,
    )

    rows = topk_tied_dense_rank(spark, sf_dir).collect()
    by_prio = {}
    for r in rows:
        by_prio.setdefault(r.priority, []).append(r)
    for prio, rs in by_prio.items():
        ranks = {r.rnk for r in rs}
        assert ranks <= set(range(1, TOPK_TIED_K + 1))
        # within a rank, all kept rows share the same count (tie def)
        for k in ranks:
            counts = {r.n_orders for r in rs if r.rnk == k}
            assert len(counts) == 1


def test_second_prior_asof_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        join_asof_second_prior,
    )

    got = {
        r.purchase_id: (r.n_prior_clicks, r.second_click_id)
        for r in join_asof_second_prior(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").toPandas()
    purchases = ev[ev.event_type == "purchase"]
    clicks = ev[ev.event_type == "click"]
    assert len(got) == len(purchases)
    for _, p in purchases.head(150).iterrows():
        prior = clicks[
            (clicks.user_id == p.user_id) & (clicks.ts <= p.ts)
        ].sort_values(["ts", "event_id"], ascending=False)
        want_second = (
            int(prior.iloc[1].event_id) if len(prior) >= 2 else None
        )
        assert got[p.event_id] == (len(prior), want_second)


def test_overlap_coefficient_algebra(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        set_overlap_coefficient,
    )

    [r] = set_overlap_coefficient(spark, sf_dir).collect()
    assert r.n_inter <= min(r.n_a, r.n_b)
    assert r.jaccard <= r.overlap_coef <= 1.0


def test_relational_division_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        subquery_relational_division,
    )

    got = {r.custkey for r in subquery_relational_division(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders").toPandas()
    prios = set(o.o_orderpriority)
    want = {
        ck
        for ck, g in o.groupby("o_custkey")
        if set(g.o_orderpriority) == prios
    }
    assert got == want


def test_coverage_gaps_replay(spark, sf_dir):
    import datetime

    from big_data_audio_classification_spark.operators.relational import (
        COVER_DAYS,
        join_range_coverage_gaps,
    )

    got = {r.gap_day for r in join_range_coverage_gaps(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders").toPandas()
    days = sorted(o.o_orderdate.dt.date.unique())
    covered = set()
    for d in o.o_orderdate.dt.date:
        for i in range(COVER_DAYS):
            covered.add(d + datetime.timedelta(days=i))
    lo, hi = days[0], days[-1]
    want = set()
    d = lo
    while d <= hi:
        if d not in covered:
            want.add(d.isoformat())
        d += datetime.timedelta(days=1)
    assert got == want


def test_tumbling_window_partitions_all_events(spark, sf_dir):
    from big_data_audio_classification_spark.operators.analytics import (
        events_tumbling_window_fn,
    )

    df = events_tumbling_window_fn(spark, sf_dir)
    total = df.agg(F.sum("n_events")).collect()[0][0]
    assert total == load_table(spark, sf_dir, "events").count()


def test_rolling_median_mad_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        RMED_WINDOW,
        window_rolling_median_mad,
    )

    got = {
        r.event_id: (r.n, r.roll_median_c, r.roll_mad_c)
        for r in window_rolling_median_mad(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["c"] = (ev.value * 100).round().astype("int64")
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    for uid, g in list(ev.groupby("user_id"))[:5]:
        cs = list(g.c)
        ids = list(g.event_id)
        for i in range(len(cs)):
            frame = sorted(cs[max(0, i - RMED_WINDOW) : i + 1])
            n = len(frame)
            med = frame[(n + 1) // 2 - 1]
            mad = sorted(abs(v - med) for v in frame)[(n + 1) // 2 - 1]
            assert got[ids[i]] == (n, med, mad)


def test_gini_split_best_is_valid(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_gini_impurity_split,
    )

    rows = ml_gini_impurity_split(spark, sf_dir).collect()
    assert all(0.0 <= r.weighted_gini <= 0.5 + 1e-9 for r in rows)
    best = min(rows, key=lambda r: (r.weighted_gini, r.threshold))
    assert best.rank == 1


def test_loo_encoding_excludes_self(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_leave_one_out_encoding,
    )

    rows = ml_leave_one_out_encoding(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders").toPandas()
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    sums = o.groupby("o_custkey").cents.agg(["sum", "count"])
    by_key = {r.o_orderkey: r for r in rows}
    for _, row in o.head(200).iterrows():
        r = by_key[row.o_orderkey]
        s, n = sums.loc[row.o_custkey]
        if n == 1:
            assert r.loo_mean_price is None
        else:
            want = (s - row.cents) / (n - 1) / 100.0
            assert abs(r.loo_mean_price - want) < 1e-4


def test_wls_matches_numpy(spark, sf_dir):
    import numpy as np

    from big_data_audio_classification_spark.operators.ml import (
        ml_wls_closed_form,
    )

    [r] = ml_wls_closed_form(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem").toPandas()
    w = li.l_quantity.to_numpy(dtype=float)
    x = li.l_quantity.to_numpy(dtype=float)
    y = (li.l_extendedprice * 100).round().to_numpy(dtype=float)
    X = np.stack([np.ones_like(x), x], axis=1)
    beta = np.linalg.solve((X.T * w) @ X, (X.T * w) @ y)
    assert abs(r.wls_slope - beta[1] / 100.0) < 1e-3
    assert abs(r.wls_intercept - beta[0] / 100.0) < 1e-3


def test_threshold_sweep_monotone(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scale_patterns import (
        skew_topk_threshold_sweep,
    )

    rows = sorted(
        skew_topk_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    hot = [r.n_hot_keys for r in rows]
    cov = [r.events_covered for r in rows]
    assert hot == sorted(hot, reverse=True)
    assert cov == sorted(cov, reverse=True)
    assert rows[0].coverage_share == 1.0  # threshold 1 covers everything


def test_running_concat_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        ref_running_concat,
    )

    rows = {r.id: r for r in ref_running_concat(spark, sf_dir).collect()}
    for speaker, start in (("Male", 0), ("Female", 1)):
        acc = []
        for i in range(start, 40, 2):
            acc.append(f"p{i}")
            assert rows[i].running_names == "|".join(acc)
            assert rows[i].speaker == speaker


def test_spectral_centroid_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.audio import (
        SC_FRAME,
        audio_spectral_centroid,
    )

    df = audio_spectral_centroid(spark, sf_dir)
    bad = df.filter(
        F.col("centroid_bin").isNotNull()
        & ((F.col("centroid_bin") < 0) | (F.col("centroid_bin") > SC_FRAME - 1))
    ).count()
    assert bad == 0
    assert df.filter(F.col("n") != SC_FRAME).count() == 0


def test_detrend_r2_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        analytics_detrend_linear_resid,
    )

    rows = analytics_detrend_linear_resid(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.var_explained <= 1.0 + 1e-9


def test_placebo_did_close_to_zero(spark, sf_dir):
    """The placebo effect on untreated synthetic data should be small
    relative to the value scale (no real intervention exists)."""
    from big_data_audio_classification_spark.operators.experiments import (
        stats_placebo_did,
    )

    [r] = stats_placebo_did(spark, sf_dir).collect()
    assert r.n_rows > 0
    assert abs(r.placebo_did) < 100.0  # dollars; values are O(500)


def test_rle_reconstructs_sequence(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        RLE_USER_CAP,
        udtf_run_length_encode,
    )

    runs = {}
    for r in udtf_run_length_encode(spark, sf_dir).collect():
        runs.setdefault(r.user_id, []).append(r)
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev = ev[ev.user_id < RLE_USER_CAP].sort_values(["user_id", "ts", "event_id"])
    for uid, g in ev.groupby("user_id"):
        seq = list(g.event_type)
        rs = sorted(runs[uid], key=lambda r: r.run_id)
        rebuilt = [t for r in rs for t in [r.event_type] * r.run_len]
        assert rebuilt == seq
        # runs alternate: no two adjacent runs share a type
        for a, b in zip(rs, rs[1:]):
            assert a.event_type != b.event_type
            assert b.start_pos == a.start_pos + a.run_len


def test_winsorized_mean_between_min_and_max(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_pandas_udaf_winsorized_mean,
    )

    rows = agg_pandas_udaf_winsorized_mean(spark, sf_dir).collect()
    for r in rows:
        assert r.lo_cents <= r.hi_cents
        assert r.lo_cents / 100.0 <= r.winsorized_mean <= r.hi_cents / 100.0


def test_csv_escape_roundtrip_vs_parquet_truth(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        sink_csv_escape_roundtrip,
    )

    [r] = sink_csv_escape_roundtrip(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents").toPandas()
    tricky = 'v"' + d.doc_id.astype(str) + '",' + d.source
    assert r.n == len(d)
    assert r.total_len == int(tricky.str.len().sum())
    assert r.n_with_quote == len(d)


def test_named_window_clause_running_sum(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        sql_named_window_clause,
    )

    rows = sql_named_window_clause(spark, sf_dir).collect()
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r.custkey, []).append(r)
    for ck, rs in list(by_cust.items())[:30]:
        rs = sorted(rs, key=lambda r: r.seq)
        assert [r.seq for r in rs] == list(range(1, len(rs) + 1))
        assert all(r.n_orders == len(rs) for r in rs)
        diffs = [rs[0].running_cents] + [
            b.running_cents - a.running_cents for a, b in zip(rs, rs[1:])
        ]
        assert all(d >= 0 for d in diffs)


def test_hll_portable_replay(spark, sf_dir):
    import hashlib

    from big_data_audio_classification_spark.operators.sketch_cms import (
        HLL_M,
        HLL_P,
        HLL_WBITS,
        sketch_hll_portable,
    )

    [row] = sketch_hll_portable(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").collect()
    toks = {t for d in docs for t in d.text.split(" ") if t}
    regs = [0] * HLL_M
    for t in toks:
        hv = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        bucket, w = hv >> HLL_WBITS, hv & ((1 << HLL_WBITS) - 1)
        rank = HLL_WBITS + 1 - w.bit_length()
        regs[bucket] = max(regs[bucket], rank)
    n_zero = regs.count(0)
    assert row.n_exact == len(toks)
    assert row.n_zero == n_zero
    # HLL with m=256 has ~6.5% std error; measured error must be sane
    assert abs(row.rel_error) < 0.35


def test_label_propagation_conserves_nodes_and_minima(spark, sf_dir):
    from big_data_audio_classification_spark.operators.graph import (
        LP_NODE_CAP,
        graph_label_propagation_sync,
    )

    rows = graph_label_propagation_sync(spark, sf_dir).collect()
    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < LP_NODE_CAP
    )
    n_nodes = em.count()
    assert sum(r.n_members for r in rows) == n_nodes  # partition of nodes
    labels = [r.label for r in rows]
    assert len(set(labels)) == len(labels)
    # every surviving label is a real node id and a local minimum seed
    assert all(0 <= l < n_nodes for l in labels)
    assert 0 in labels  # node 0 can never adopt a smaller label


def test_vocab_contract_matches_python_replay(spark, sf_dir):
    import hashlib

    from big_data_audio_classification_spark.operators.text import (
        VOCAB_STOPWORDS,
        text_pipeline_vocab_contract,
    )

    [row] = text_pipeline_vocab_contract(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").collect()
    bigrams = set()
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        kept = [t for t in toks if t not in VOCAB_STOPWORDS]
        bigrams.update(f"{a} {b}" for a, b in zip(kept, kept[1:]))
    assert row.n_vocab == len(bigrams)
    want = hashlib.md5("|".join(sorted(bigrams)).encode()).hexdigest()
    assert row.vocab_md5 == want
