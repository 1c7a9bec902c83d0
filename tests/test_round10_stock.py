"""Replay/invariant tests for the round-10 stock tranche
(now in the family operator modules). Oracle-independent properties only — the
tri-SF bit-exact gate owns value parity. Every carrier in the tranche
has at least one test here (the gating-battery replay leg)."""

from __future__ import annotations

import math
from collections import Counter

import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def _doc_tokens(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return {r.doc_id: [t for t in r.text.split(" ") if t] for r in docs.collect()}


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).collect()


# ---------------------------------------------------------------- lm ----


def test_laplace_addk_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        ADDK_K,
        ADDK_TERMS,
        text_lm_laplace_addk,
    )

    toks = _doc_tokens(spark, sf_dir)
    vsize = float(len({t for l in toks.values() for t in l}))
    got = {r.doc_id: r for r in text_lm_laplace_addk(spark, sf_dir).collect()}
    assert set(got) == {d for d, l in toks.items() if l}
    for doc_id, l in list(toks.items())[:50]:
        if not l:
            continue
        r = got[doc_id]
        ll = sum(
            math.log((l.count(t) + ADDK_K) / (len(l) + ADDK_K * vsize))
            for t in ADDK_TERMS
        )
        assert abs(r.query_loglik - ll) < 1e-5
        assert r.query_loglik < 0  # proper probabilities


def test_source_llr_zero_tf_scores_zero(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        text_lm_source_loglik_ratio,
    )

    rows = text_lm_source_loglik_ratio(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.tf1 == 0 and r.tf2 == 0:
            assert r.domain_llr == 0.0  # tf-weighted sum collapses


def test_bigram_oov_bounds_and_short_docs(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        text_lm_bigram_oov_rate,
    )

    toks = _doc_tokens(spark, sf_dir)
    got = {r.doc_id: r for r in text_lm_bigram_oov_rate(spark, sf_dir).collect()}
    assert set(got) == set(toks)  # outer join keeps every document
    for doc_id, l in toks.items():
        r = got[doc_id]
        assert r.n_bigrams == max(0, len(l) - 1)
        assert 0 <= r.n_covered <= r.n_bigrams
        if r.n_bigrams == 0:
            assert r.oov_rate is None
        else:
            assert 0.0 <= r.oov_rate <= 1.0


# ------------------------------------------------------- mapInPandas ----


def test_payload_entropy_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_shannon_entropy,
    )

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {
        r.doc_id: r for r in mm_payload_shannon_entropy(spark, sf_dir).collect()
    }
    assert set(got) == set(docs)
    for doc_id, text in list(docs.items())[:50]:
        r = got[doc_id]
        b = text.encode()
        assert r.n_bytes == len(b)
        if b:
            counts = Counter(b)
            n = len(b)
            h = math.log2(n) - sum(
                c * math.log2(c) for _, c in sorted(counts.items())
            ) / n
            assert abs(r.entropy_bits - h) < 1e-5
            assert 0.0 <= r.entropy_bits <= 8.0
            assert r.n_distinct == len(counts)


def test_payload_xor_parity_replay(spark, sf_dir):
    from functools import reduce

    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_xor_parity,
    )

    docs = {
        r.doc_id: r.text.encode()
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {r.doc_id: r for r in mm_payload_xor_parity(spark, sf_dir).collect()}
    for doc_id, b in list(docs.items())[:50]:
        r = got[doc_id]
        assert r.xor_byte == (reduce(lambda a, x: a ^ x, b, 0) if b else 0)
        assert r.total_popcount == sum(bin(x).count("1") for x in b)
        assert r.n_odd_parity == sum(1 for x in b if bin(x).count("1") % 2)
        assert 0 <= r.n_odd_parity <= r.n_bytes


def test_payload_diff_profile_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_diff_profile,
    )

    docs = {
        r.doc_id: r.text.encode()
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {r.doc_id: r for r in mm_payload_diff_profile(spark, sf_dir).collect()}
    for doc_id, b in list(docs.items())[:50]:
        r = got[doc_id]
        d = [y - x for x, y in zip(b, b[1:])]
        assert r.n_steps == len(d)
        assert r.n_up == sum(1 for x in d if x > 0)
        assert r.n_down == sum(1 for x in d if x < 0)
        assert r.sum_abs_delta == sum(abs(x) for x in d)
        assert r.max_abs_delta == (max(abs(x) for x in d) if d else 0)
        assert r.n_up + r.n_down <= r.n_steps


def test_udaf_entropy_bounds_and_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_pandas_udaf_entropy,
    )

    ev = _events(spark, sf_dir)
    by_type: dict[str, list[int]] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(
            abs(round(r.value * 100)) % 10
        )
    got = {r.event_type: r for r in agg_pandas_udaf_entropy(spark, sf_dir).collect()}
    assert set(got) == set(by_type)
    for t, digits in by_type.items():
        r = got[t]
        assert r.n == len(digits)
        counts = Counter(digits)
        n = len(digits)
        h = math.log2(n) - sum(
            c * math.log2(c) for _, c in sorted(counts.items())
        ) / n
        assert abs(r.digit_entropy_bits - h) < 1e-5
        assert 0.0 <= r.digit_entropy_bits <= math.log2(10) + 1e-9


# ------------------------------------------------ asof + window-time ----


def test_asof_prior_error_latency_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        ASOF_ERR_TOL_S,
        join_asof_prior_error_latency,
    )

    ev = sorted(_events(spark, sf_dir), key=lambda r: (r.ts, r.event_id))
    last_err: dict[int, object] = {}
    per_window: dict[object, list] = {}
    for r in ev:
        if r.event_type == "error":
            last_err[r.user_id] = r.ts
        elif r.event_type == "purchase":
            lat = None
            pe = last_err.get(r.user_id)
            if pe is not None:
                us = (r.ts - pe).total_seconds() * 1e6
                if us <= ASOF_ERR_TOL_S * 1e6:
                    lat = round(us)
            per_window.setdefault(r.ts.replace(minute=0, second=0, microsecond=0), []).append(lat)
    got = {r.window_start: r for r in join_asof_prior_error_latency(spark, sf_dir).collect()}
    assert len(got) == len(per_window)
    for w, lats in per_window.items():
        r = got[w.strftime("%Y-%m-%d %H:%M:%S")]
        assert r.n_purchases == len(lats)
        matched = [x for x in lats if x is not None]
        assert r.n_matched == len(matched)
        if matched:
            assert abs(r.mean_latency_sec - sum(matched) / len(matched) / 1e6) < 1e-4


# ---------------------------------------------------------- setop -------


def test_setop_weekday_weekend_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        set_except_weekday_weekend,
    )

    ev = _events(spark, sf_dir)
    wd: dict[str, set] = {}
    we: dict[str, set] = {}
    for r in ev:
        tgt = we if r.ts.weekday() >= 5 else wd  # python: Mon=0..Sun=6
        tgt.setdefault(r.event_type, set()).add(r.user_id)
    got = {r.event_type: r for r in set_except_weekday_weekend(spark, sf_dir).collect()}
    for t in set(wd) | set(we):
        a, b = wd.get(t, set()), we.get(t, set())
        r = got[t]
        assert r.n_weekday_only == len(a - b)
        assert r.n_weekend_only == len(b - a)
        assert r.n_both == len(a & b)


# -------------------------------------------------------- grouping ------


def test_cube_share_of_parent_hierarchy(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_cube_share_of_parent,
    )

    rows = agg_cube_share_of_parent(spark, sf_dir).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    (total,) = by_gid[3]
    assert total.share_of_parent is None
    # children shares within one parent sum to ~1 (exact cents below)
    for p in by_gid[1]:
        kids = [r for r in by_gid[0] if r.priority == p.priority]
        assert sum(r.cents for r in kids) == p.cents
        assert abs(sum(r.share_of_parent for r in kids) - 1.0) < 1e-4
    assert sum(r.cents for r in by_gid[1]) == total.cents
    assert sum(r.cents for r in by_gid[2]) == total.cents


# ------------------------------------------------------------ sketch ----


def test_countmin_never_undercounts(spark, sf_dir):
    from big_data_audio_classification_spark.operators.sketch_cms import (
        CMHH_TOPK,
        sketch_countmin_heavy_hitters,
    )

    rows = sorted(
        sketch_countmin_heavy_hitters(spark, sf_dir).collect(),
        key=lambda r: r.rk,
    )
    assert [r.rk for r in rows] == list(range(1, min(CMHH_TOPK, len(rows)) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a.exact_cnt, -a.user_id) >= (b.exact_cnt, -b.user_id)
    for r in rows:
        assert r.overestimate >= 0  # CM structural guarantee
        assert r.cm_est == r.exact_cnt + r.overestimate


# ------------------------------------------------------ string/topk -----


def test_suffix_census_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        SUFFIX_MIN_LEN,
        scalar_string_suffix_census,
    )

    toks = _doc_tokens(spark, sf_dir)
    cnt = Counter(
        t[-3:] for l in toks.values() for t in l if len(t) >= SUFFIX_MIN_LEN
    )
    rows = sorted(scalar_string_suffix_census(spark, sf_dir).collect(), key=lambda r: r.rk)
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: len(rows)]
    assert [(r.suffix3, r.n_tokens) for r in rows] == expect
    assert all(len(r.suffix3) == 3 for r in rows)


# -------------------------------------------------------------- math ----


def test_log_exp_battery_matches_libm(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_math_log_exp_battery,
    )

    for r in scalar_math_log_exp_battery(spark, sf_dir).collect():
        q = r.qty
        assert abs(r.ln_q - round(math.log(q), 6)) < 1e-9
        assert abs(r.log10_q - round(math.log10(q), 6)) < 1e-9
        assert abs(r.sqrt_q - round(math.sqrt(q), 6)) < 1e-9
        assert abs(r.cbrt_q - round(q ** (1 / 3), 6)) < 1e-6
        assert abs(r.exp_inv_q - round(math.exp(1 / q), 6)) < 1e-9
        assert abs(r.pow_1_5 - round(q ** 1.5, 6)) < 1e-9


# ------------------------------------------------------ json/variant ----


def test_json_variant_paths_agree(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_json_variant_crosswalk,
    )

    rows = scalar_json_variant_crosswalk(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # well-formed synthetic props: all three parsers must agree
        assert r.n_agree == r.n_extractable == r.n
        assert r.min_k <= r.max_k


# --------------------------------------------------------- array/map ----


def test_map_pivot_fold_consistency(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_map_array_pivot_fold,
    )

    for r in scalar_map_array_pivot_fold(spark, sf_dir).collect():
        entries = [kv.split(":") for kv in r.kv_serialized.split(",")]
        assert len(entries) == r.n_statuses
        assert sum(int(v) for _, v in entries) == r.total_cents
        assert [k for k, _ in entries] == sorted(k for k, _ in entries)


# ---------------------------------------------------------- lsh/gini ----


def test_lsh_gini_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        _lsh_band_table,
    )
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_lsh_bucket_gini,
    )

    d = load_table(spark, sf_dir, "documents")
    sizes: dict[int, list[int]] = {}
    for r in (
        _lsh_band_table(d)
        .groupBy("band_id", "band_hash")
        .count()
        .collect()
    ):
        sizes.setdefault(r.band_id, []).append(r["count"])
    got = {r.band_id: r for r in dedup_lsh_bucket_gini(spark, sf_dir).collect()}
    assert set(got) == set(sizes)
    for band, xs in sizes.items():
        xs = sorted(xs)
        k, tot = len(xs), sum(xs)
        g = sum((2 * (i + 1) - k - 1) * x for i, x in enumerate(xs)) / (k * tot)
        r = got[band]
        assert (r.n_buckets, r.n_docs) == (k, tot)
        assert abs(r.gini - g) < 1e-5
        assert 0.0 <= r.gini < 1.0


def test_simhash_parity_planes_partition(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_parity_planes,
    )

    rows = dedup_simhash_parity_planes(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs  # census partitions docs
    for r in rows:
        assert r.parity in (0, 1)
        assert 0 <= r.top_nibble <= 15


# -------------------------------------------------------------- tfidf ---


def test_idf_variants_formulas(spark, sf_dir):
    from big_data_audio_classification_spark.operators.text import (
        text_tfidf_idf_variants,
    )

    rows = sorted(text_tfidf_idf_variants(spark, sf_dir).collect(), key=lambda r: r.rk)
    for a, b in zip(rows, rows[1:]):
        assert (a.df, b.term) >= (b.df, a.term)  # rank ordering w/ tiebreak
    for r in rows:
        n, df = r.n_docs, r.df
        assert abs(r.idf_raw - round(math.log(n / df), 6)) < 1e-9
        assert abs(r.idf_smooth - round(math.log((n + 1) / (df + 1)) + 1, 6)) < 1e-9
        assert abs(r.idf_bm25 - round(math.log((n - df + 0.5) / (df + 0.5)), 6)) < 1e-9
        if df > n / 2:
            assert r.idf_bm25 < 0  # the BM25 sign flip on head terms


# ----------------------------------------------------- encoding/ml ------


def test_helmert_effects_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_helmert_contrast_effects,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).collect()
    sums: dict[str, list[int]] = {}
    for r in o:
        sums.setdefault(r.o_orderpriority, []).append(r.c)
    means = {k: sum(v) / len(v) for k, v in sums.items()}
    levels = sorted(means)
    got = {r.level: r for r in ml_helmert_contrast_effects(spark, sf_dir).collect()}
    assert [got[lv].rk for lv in levels] == list(range(1, len(levels) + 1))
    assert got[levels[0]].helmert_effect is None
    for j, lv in enumerate(levels[1:], start=2):
        prior = sum(means[levels[i]] for i in range(j - 1)) / (j - 1)
        assert abs(got[lv].helmert_effect - (means[lv] - prior)) < 1e-4


def test_scalar_subquery_census_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        subquery_scalar_correlated_census,
    )

    rows = subquery_scalar_correlated_census(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_above_global_avg <= r.n_with_orders <= r.n_customers
    # somebody must be above a strict average
    assert sum(r.n_above_global_avg for r in rows) > 0


def test_ivf_radius_profile_consistency(spark, sf_dir):
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )
    from big_data_audio_classification_spark.operators.similarity import (
        sim_ivf_cell_radius_profile,
    )

    rows = sim_ivf_cell_radius_profile(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_vecs
    assert {r.cell_id for r in rows} <= set(range(IVF_CELLS))
    for r in rows:
        assert 0.0 <= r.mean_d2 <= r.max_d2 + 1e-9


def test_gain_ratio_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        GAIN_DIMS,
        ml_gain_ratio_selection,
    )

    rows = ml_gain_ratio_selection(spark, sf_dir).collect()
    assert {r.dim for r in rows} == set(range(1, GAIN_DIMS + 1))
    for r in rows:
        assert r.info_gain >= -1e-9
        assert r.info_gain <= r.h_label + 1e-9
        if r.gain_ratio is not None:
            assert r.gain_ratio <= 1.0 + 1e-6  # gain <= H(split)


# ----------------------------------------------- reference/audio-math ---


def test_slice_rms_truncation_accounting(spark, sf_dir):
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        SLICE_SAMPLES,
        ref_slice_rms_energy,
    )

    counts = Counter(r.user_id for r in _events(spark, sf_dir))
    got = {r.user_id: r for r in ref_slice_rms_energy(spark, sf_dir).collect()}
    assert set(got) == set(counts)
    for u, n in counts.items():
        r = got[u]
        # R6 semantics: kept + dropped == everything, dropped < one slice
        assert r.n_slices * SLICE_SAMPLES + r.n_dropped == n
        assert 0 <= r.n_dropped < SLICE_SAMPLES
        if r.n_slices:
            assert r.mean_rms <= r.max_rms + 1e-9


# ---------------------------------------------------------- range-join --


def test_dual_band_partitions_orders(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        DUAL_BANDS,
        join_range_dual_band,
    )

    rows = join_range_dual_band(spark, sf_dir).collect()
    assert {r.band_id for r in rows} == {b[0] for b in DUAL_BANDS}
    o = load_table(spark, sf_dir, "orders")
    # the literal bands tile the (price, week) plane over the data range
    assert sum(r.n_orders for r in rows) == o.count()


# ------------------------------------------------------ udtf/session ----


def test_session_paths_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        PATHS_GAP_S,
        udtf_session_paths,
    )

    ev = sorted(_events(spark, sf_dir), key=lambda r: (r.user_id, r.ts, r.event_id))
    cnt: Counter = Counter()
    users: dict[str, set] = {}
    buf: list[str] = []
    last = (None, None)
    for r in ev:
        if r.user_id != last[0] or (
            last[1] is not None
            and (r.ts - last[1]).total_seconds() * 1e6 > PATHS_GAP_S * 1e6
        ):
            buf = []
        last = (r.user_id, r.ts)
        buf.append(r.event_type)
        if len(buf) > 3:
            buf.pop(0)
        if len(buf) == 3:
            p = ">".join(buf)
            cnt[p] += 1
            users.setdefault(p, set()).add(r.user_id)
    got = {r.path3: r for r in udtf_session_paths(spark, sf_dir).collect()}
    assert {p: c for p, c in cnt.items()} == {
        p: r.n_occurrences for p, r in got.items()
    }
    for p, r in got.items():
        assert r.n_users == len(users[p])


# ------------------------------------------------------------ sink ------


def test_csv_null_empty_roundtrip_census(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        sink_csv_null_empty_roundtrip,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    n_null = sum(1 for r in docs if r.doc_id % 3 == 0)
    n_empty = sum(1 for r in docs if r.doc_id % 3 == 1)
    reg = [r.lang for r in docs if r.doc_id % 3 == 2]
    (r,) = sink_csv_null_empty_roundtrip(spark, sf_dir).collect()
    assert (r.n, r.n_null, r.n_empty, r.n_regular) == (
        len(docs),
        n_null,
        n_empty,
        len(reg),
    )
    assert r.total_len == sum(len(x) for x in reg)  # '' contributes 0


# ----------------------------------------------- decomposition/rolling --


def test_rolling_seasonal_resid_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        analytics_rolling_seasonal_resid,
    )

    ev = _events(spark, sf_dir)
    daily: dict[object, int] = {}
    for r in ev:
        daily[r.ts.date()] = daily.get(r.ts.date(), 0) + round(r.value * 100)
    days = sorted(daily)
    resid: dict[int, list[float]] = {}
    for i, d in enumerate(days):
        lo, hi = max(0, i - 3), min(len(days), i + 4)
        m = sum(daily[days[k]] for k in range(lo, hi)) / (hi - lo)
        dow = (d.weekday() + 1) % 7  # python Mon=0 -> duckdb Sun=0
        resid.setdefault(dow, []).append(daily[d] - m)
    got = {r.dow: r for r in analytics_rolling_seasonal_resid(spark, sf_dir).collect()}
    assert set(got) == set(resid)
    for dow, xs in resid.items():
        assert got[dow].n_days == len(xs)
        assert abs(got[dow].mean_resid - sum(xs) / len(xs)) < 1e-3


# ------------------------------------------------------------ causal ----


def test_dr_ate_replay_and_degenerate_guard(spark, sf_dir):
    from big_data_audio_classification_spark.operators.experiments import (
        DR_TREAT_CUTOFF,
        stats_dr_ate,
    )
    import datetime as dt

    cutoff = dt.datetime.fromisoformat(DR_TREAT_CUTOFF)
    ev = _events(spark, sf_dir)
    t: dict[int, int] = {}
    y: dict[int, int] = {}
    for r in ev:
        t.setdefault(r.user_id, 0)
        y.setdefault(r.user_id, 0)
        if r.event_type == "error" and r.ts < cutoff:
            t[r.user_id] = 1
        if r.event_type == "purchase":
            y[r.user_id] += round(r.value * 100)
    got = {r.stratum: r for r in stats_dr_ate(spark, sf_dir).collect()}
    for s in range(4):
        users = [u for u in t if u % 4 == s]
        n, n_t = len(users), sum(t[u] for u in users)
        r = got[s]
        assert (r.n, r.n_t) == (n, n_t)
        if n_t == 0 or n_t == n:
            assert r.dr_ate_cents is None  # degenerate stratum guard
        else:
            e = n_t / n
            m1 = sum(y[u] for u in users if t[u]) / n_t
            m0 = sum(y[u] for u in users if not t[u]) / (n - n_t)
            terms = [
                m1 - m0
                + t[u] * (y[u] - m1) / e
                - (1 - t[u]) * (y[u] - m0) / (1 - e)
                for u in users
            ]
            assert abs(r.dr_ate_cents - sum(terms) / len(terms)) < 1e-3


# ------------------------------------------------- bounded-CC contract --


def test_cc_bounded_matches_fixpoint_when_converged(spark, sf_dir):
    from collections import Counter as _C

    from big_data_audio_classification_spark.operators.dedup import (
        dedup_connected_components,
    )
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_cc_bounded_histogram,
    )

    fix = dedup_connected_components(spark, sf_dir).collect()
    fix_hist = _C(_C(r.component for r in fix).values())
    got = {
        r.cluster_size: r.n_clusters
        for r in dedup_cc_bounded_histogram(spark, sf_dir).collect()
    }
    # sf0.001 graph converges well inside the round budget, so the
    # bounded-K histogram must equal the fixpoint histogram exactly.
    assert got == dict(fix_hist)
    n_docs = sum(s * c for s, c in got.items())
    toks = _doc_tokens(spark, sf_dir)
    assert n_docs == sum(1 for l in toks.values() if l)
