"""Replay/invariant tests for the round-10 stock tranche 3
(now in the family operator modules). Oracle-independent properties only —
the tri-SF bit-exact gate owns value parity. Every carrier in the
tranche has at least one test here (the gating-battery replay leg)."""

from __future__ import annotations

import json
import math
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).collect()


def _cents(v: float) -> int:
    return int(round(v * 100))


# -------------------------------------------------------------- asof ----


def test_asof_prior_signup_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        ASOF_SIGNUP_TOL_US,
        join_asof_prior_signup_lag,
    )

    ev = _events(spark, sf_dir)
    us = {r.event_id: int(r.ts.timestamp() * 1_000_000) for r in ev}
    signups = defaultdict(list)
    for r in ev:
        if r.event_type == "signup":
            signups[r.user_id].append(r)
    got = {
        r.purchase_id: r
        for r in join_asof_prior_signup_lag(spark, sf_dir).collect()
    }
    purchases = [r for r in ev if r.event_type == "purchase"]
    assert set(got) == {r.event_id for r in purchases}
    for p in purchases:
        cands = [
            s
            for s in signups.get(p.user_id, [])
            if (us[s.event_id], s.event_id) <= (us[p.event_id], s.event_id)
            and us[s.event_id] <= us[p.event_id]
        ]
        r = got[p.event_id]
        if not cands:
            assert r.signup_id is None and r.lag_us is None
            continue
        best = max(cands, key=lambda s: (us[s.event_id], s.event_id))
        lag = us[p.event_id] - us[best.event_id]
        if lag <= ASOF_SIGNUP_TOL_US:
            assert r.signup_id == best.event_id and r.lag_us == lag
        else:
            assert r.signup_id is None and r.lag_us is None


# ----------------------------------------------------------- variant ----


def test_variant_null_vs_missing_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_variant_null_vs_missing_census,
    )

    ev = _events(spark, sf_dir)
    exp = defaultdict(lambda: [0, 0, 0, 0])  # n, present_null, missing, vsum
    for r in ev:
        e = exp[r.event_type]
        e[0] += 1
        if r.event_id % 3 == 0:
            e[1] += 1
        else:
            e[2] += 1
        e[3] += json.loads(r.props)["k"]
    rows = scalar_variant_null_vs_missing_census(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(exp)
    for r in rows:
        e = exp[r.event_type]
        assert [r.n, r.n_present_null, r.n_missing, r.v_sum] == e
        assert r.n_present_null + r.n_missing == r.n  # disciplines partition


# ------------------------------------------------------------- tfidf ----


def test_bm25_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_PROBE_TERMS as BM25_TERMS,
        text_tfidf_bm25_probe_ranking,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: [t for t in r.text.split(" ") if t] for r in docs}
    n_docs = sum(1 for l in toks.values() if l)
    avgdl = sum(len(l) for l in toks.values()) / n_docs
    df = {t: sum(1 for l in toks.values() if t in l) for t in BM25_TERMS}
    got = {r.doc_id: r for r in text_tfidf_bm25_probe_ranking(spark, sf_dir).collect()}
    assert got  # the probe terms occur at every SF
    expect_ids = {
        d for d, l in toks.items() if any(t in l for t in BM25_TERMS)
    }
    assert set(got) == expect_ids
    for doc_id in list(expect_ids)[:50]:
        l = toks[doc_id]
        score = 0.0
        for t in BM25_TERMS:
            tf = l.count(t)
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            score += (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(l) / avgdl))
            )
        r = got[doc_id]
        assert abs(r.bm25 - score) < 1e-5
        assert r.bm25 > 0.0
        assert r.dl == len(l)


# --------------------------------------------------------- regression ----


def test_piecewise_ols_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        PIECEWISE_KNOT_DAY,
        ml_piecewise_linear_knot,
    )

    ev = _events(spark, sf_dir)
    groups = defaultdict(list)
    for r in ev:
        seg = "early" if r.ts.day <= PIECEWISE_KNOT_DAY else "late"
        groups[(r.event_type, seg)].append((r.ts.day, _cents(r.value)))
    rows = ml_piecewise_linear_knot(spark, sf_dir).collect()
    assert {(r.event_type, r.segment) for r in rows} == set(groups)
    for r in rows:
        pts = groups[(r.event_type, r.segment)]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sxx = sum(x * x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        assert (r.n, r.sx, r.sy) == (n, sx, sy)
        den = n * sxx - sx * sx
        if den > 0:
            slope = (n * sxy - sx * sy) / den / 100.0
            intercept = (sxx * sy - sx * sxy) / den / 100.0
            assert abs(r.slope_per_day - slope) < 1e-5
            assert abs(r.intercept_value - intercept) < 1e-5
        else:
            assert r.slope_per_day is None and r.intercept_value is None


# ----------------------------------------------------------- subquery ----


def test_any_all_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        subquery_any_all_quantified,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", "o_totalprice"
    ).collect()
    bench = [
        r.o_totalprice
        for r in orders
        if r.o_orderpriority == "1-URGENT" and r.o_orderstatus == "F"
    ]
    assert bench  # the non-empty contract the operator pins
    mx, mn = max(bench), min(bench)
    exp = defaultdict(lambda: [0, 0, 0])
    for r in orders:
        e = exp[r.o_orderpriority]
        e[0] += 1
        e[1] += r.o_totalprice > mx
        e[2] += r.o_totalprice > mn
    rows = subquery_any_all_quantified(spark, sf_dir).collect()
    assert {r.priority for r in rows} == set(exp)
    for r in rows:
        assert [r.n, r.n_gt_all, r.n_gt_any] == exp[r.priority]
        assert r.n_gt_all <= r.n_gt_any <= r.n


# ---------------------------------------------------------------- ivf ----


def test_centroid_geometry_replay(spark, sf_dir):
    import numpy as np

    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )
    from big_data_audio_classification_spark.operators.similarity import (
        sim_ivf_centroid_geometry,
    )

    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < IVF_CELLS
    ).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in em}
    rows = sim_ivf_centroid_geometry(spark, sf_dir).collect()
    assert {r.cell_id for r in rows} == set(vecs)
    dists = {
        (i, j): float(np.sqrt(((vecs[i] - vecs[j]) ** 2).sum()))
        for i in vecs
        for j in vecs
        if i != j
    }
    diam = max(dists.values())
    for r in rows:
        mine = [d for (i, _), d in dists.items() if i == r.cell_id]
        assert abs(r.nn_dist - min(mine)) < 1e-5
        assert abs(r.far_dist - max(mine)) < 1e-5
        assert abs(r.diameter - diam) < 1e-5
        assert r.nn_dist <= r.far_dist <= r.diameter + 1e-9


# --------------------------------------------------- feature-selection ----


def test_odds_ratio_cells_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        OR_DIMS,
        ml_odds_ratio_selection,
    )

    em = load_table(spark, sf_dir, "embeddings").select(
        "embedding", "label"
    ).collect()
    rows = {r.dim: r for r in ml_odds_ratio_selection(spark, sf_dir).collect()}
    assert set(rows) == set(range(OR_DIMS))
    for dim in (0, 7, 15):
        a = b = c = d = 0
        for r in em:
            v = r.embedding[dim]
            pos = r.label % 2 == 0
            if v > 0:
                a, b = a + pos, b + (not pos)
            else:
                c, d = c + pos, d + (not pos)
        row = rows[dim]
        assert (row.a, row.b, row.c, row.d) == (a, b, c, d)
        lo = math.log(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)))
        assert abs(row.log_odds - lo) < 1e-5
    for row in rows.values():
        assert row.a + row.b + row.c + row.d == len(em)
        assert math.isfinite(row.log_odds)  # Haldane keeps zero cells finite


# ------------------------------------------------------------ encoding ----


def test_frequency_rank_encoding_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_frequency_rank_encoding,
    )

    ev = _events(spark, sf_dir)
    cnt = Counter(r.event_type for r in ev)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    cents = defaultdict(int)
    for r in ev:
        cents[r.event_type] += _cents(r.value)
    rows = sorted(
        ml_frequency_rank_encoding(spark, sf_dir).collect(),
        key=lambda r: r.rank_enc,
    )
    assert len(rows) == len(ranked)
    total = sum(cnt.values())
    for r, (typ, n) in zip(rows, ranked):
        assert (r.event_type, r.n) == (typ, n)
        assert abs(r.freq_enc - round(n / total, 6)) < 1e-12
        assert r.total_cents == cents[typ]


# ----------------------------------------------------------- reference ----


def test_clip_amplitude_census_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        ref_clip_amplitude_census,
    )

    ev = _events(spark, sf_dir)
    amps = defaultdict(list)
    for r in ev:
        amps[r.event_type].append(abs(_cents(r.value)))
    rows = ref_clip_amplitude_census(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(amps)
    for r in rows:
        a = amps[r.event_type]
        peak = max(a)
        near = sum(1 for x in a if 10 * x >= 9 * peak)
        assert r.n == len(a)
        assert abs(r.peak_value - round(peak / 100.0, 2)) < 1e-9
        assert r.n_near_peak == near
        assert 1 <= r.n_near_peak <= r.n  # the peak itself always counts


# ----------------------------------------------------------- range-join ----


def test_nesting_depth_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        join_range_nesting_depth,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).collect()
    epoch = __import__("datetime").date(1970, 1, 1)
    by_cust = defaultdict(list)
    for r in orders:
        s = (r.o_orderdate.date() - epoch).days
        by_cust[r.o_custkey].append((r.o_orderkey, s, s + r.o_orderkey % 7 + 1))
    exp = {}
    for cust, ivs in by_cust.items():
        for k, s, e in ivs:
            depth = sum(
                1 for k2, s2, e2 in ivs if k2 != k and s2 <= s and e <= e2
            )
            if depth:
                exp[k] = (cust, depth)
    got = {
        r.o_orderkey: (r.custkey, r.depth)
        for r in join_range_nesting_depth(spark, sf_dir).collect()
    }
    assert got == exp


# -------------------------------------------------------------- session ----


def test_session_gap_cv_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.analytics import (
        SESSION_GAP_US,
        events_session_gap_cv,
    )

    ev = _events(spark, sf_dir)
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append(
            (int(r.ts.timestamp() * 1_000_000), r.event_id)
        )
    exp = {}
    for uid, seq in by_user.items():
        seq.sort()
        sess_idx, prev = 0, None
        sessions = defaultdict(list)
        for us, eid in seq:
            if prev is None or us - prev > SESSION_GAP_US:
                sess_idx += 1
            sessions[sess_idx].append(us)
            prev = us
        for idx, stamps in sessions.items():
            gaps = [b - a for a, b in zip(stamps, stamps[1:])]
            if len(gaps) >= 2:
                n, sg = len(gaps), sum(gaps)
                sgg = sum(g * g for g in gaps)
                cv = (
                    math.sqrt(max(n * sgg - sg * sg, 0)) / sg
                    if sg > 0
                    else None  # all-zero-gap session pins NULL
                )
                exp[(uid, idx)] = (n, sg, cv)
    rows = events_session_gap_cv(spark, sf_dir).collect()
    got = {(r.user_id, r.sess_idx): r for r in rows}
    assert set(got) == set(exp)
    for k, (n, sg, cv) in exp.items():
        r = got[k]
        assert (r.n_gaps, r.total_gap_us) == (n, sg)
        if cv is None:
            assert r.gap_cv is None
        else:
            assert abs(r.gap_cv - cv) < 1e-5
            assert r.gap_cv >= 0.0


# ----------------------------------------------------------------- udtf ----


def test_value_digits_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        DIGIT_MAX_POS,
        udtf_value_digits,
    )

    from big_data_audio_classification_spark.operators.advanced import (
        DIGIT_SAMPLE_MOD,
    )

    orders = [
        r
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .collect()
        if r.o_orderkey % DIGIT_SAMPLE_MOD == 5
    ]
    exp = Counter()
    for r in orders:
        for i, ch in enumerate(str(_cents(r.o_totalprice))[:DIGIT_MAX_POS]):
            exp[(i + 1, int(ch))] += 1
    got = {
        (r.pos, r.digit): r.n for r in udtf_value_digits(spark, sf_dir).collect()
    }
    assert got == dict(exp)
    # position 1 covers every sampled order, and never holds a zero digit
    assert sum(n for (p, _), n in got.items() if p == 1) == len(orders)
    assert (1, 0) not in got


# ----------------------------------------------------------------- udaf ----


def test_mode_share_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_pandas_udaf_mode_share,
    )

    ev = _events(spark, sf_dir)
    groups = defaultdict(Counter)
    for r in ev:
        groups[r.event_type][_cents(r.value)] += 1
    rows = agg_pandas_udaf_mode_share(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(groups)
    for r in rows:
        c = groups[r.event_type]
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (r.mode_cents, r.mode_n) == best
        assert r.n == sum(c.values())
        assert abs(r.mode_share - round(r.mode_n / r.n, 6)) < 1e-12


# ------------------------------------------------------------------ csv ----


def test_pipe_quotechar_roundtrip_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        sink_csv_pipe_quotechar_roundtrip,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    ).collect()
    exp_len = sum(len(f"a|'{r.doc_id}'|{r.source}") for r in docs)
    [r] = sink_csv_pipe_quotechar_roundtrip(spark, sf_dir).collect()
    assert r.n == len(docs)
    assert r.total_len == exp_len
    assert r.n_with_pipe == len(docs)  # every field embeds the delimiter
    assert r.n_with_quote == len(docs)  # and the quote character


# ------------------------------------------------------------------ sql ----


def test_values_inline_table_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        PRIORITY_WEIGHTS,
        sql_values_inline_table,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    cnt = Counter(r.o_orderpriority for r in orders)
    cents = defaultdict(int)
    for r in orders:
        cents[r.o_orderpriority] += _cents(r.o_totalprice)
    rows = {r.priority: r for r in sql_values_inline_table(spark, sf_dir).collect()}
    assert set(rows) == {p for p, _ in PRIORITY_WEIGHTS}
    for p, w in PRIORITY_WEIGHTS:
        r = rows[p]
        assert r.weight == w
        assert r.n_orders == cnt.get(p, 0)
        assert r.weighted_n == cnt.get(p, 0) * w
        assert r.total_cents == cents.get(p, 0)
    # the phantom dimension row survives the LEFT join with exact zeros
    ph = rows["9-PHANTOM"]
    assert (ph.n_orders, ph.weighted_n, ph.total_cents) == (0, 0, 0)


# -------------------------------------------------------- decomposition ----


def test_level_dow_decomp_identities(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        analytics_level_dow_rolling_decomp,
    )

    ev = _events(spark, sf_dir)
    epoch = __import__("datetime").date(1970, 1, 1)
    daily = defaultdict(int)
    for r in ev:
        daily[(r.ts.date() - epoch).days] += _cents(r.value)
    days = sorted(daily)
    rows = {r.day_num: r for r in analytics_level_dow_rolling_decomp(spark, sf_dir).collect()}
    # exactly the full-window days emit
    full = {
        d
        for i, d in enumerate(days)
        if i >= 3 and i + 3 < len(days)
    }
    assert set(rows) == full
    for d, r in rows.items():
        i = days.index(d)
        roll = sum(daily[days[j]] for j in range(i - 3, i + 4))
        assert abs(r.day_total - round(daily[d] / 100.0, 2)) < 1e-9
        assert abs(r.level - round(roll / 700.0, 6)) < 1e-9
        assert r.dow == (d + 4) % 7
        # additive identity: dev/7 = dow_effect + resid (to rounding)
        dev = (7 * daily[d] - roll) / 700.0
        assert abs(dev - (r.dow_effect + r.resid)) < 2e-6


# --------------------------------------------------------------- causal ----


def test_mantel_haenszel_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.experiments import (
        MH_STRATA,
        stats_mantel_haenszel_or,
    )

    ev = _events(spark, sf_dir)
    t_users, y_users, users = set(), set(), set()
    for r in ev:
        users.add(r.user_id)
        if r.event_type == "error" and r.ts.day < 3:
            t_users.add(r.user_id)
        if r.event_type == "purchase":
            y_users.add(r.user_id)
    num = den = 0.0
    a_total = 0
    for s in range(MH_STRATA):
        su = [u for u in users if u % MH_STRATA == s]
        if not su:
            continue
        a = sum(1 for u in su if u in t_users and u in y_users)
        b = sum(1 for u in su if u in t_users and u not in y_users)
        c = sum(1 for u in su if u not in t_users and u in y_users)
        d = sum(1 for u in su if u not in t_users and u not in y_users)
        n_i = len(su)
        num += a * d / n_i
        den += b * c / n_i
        a_total += a
    [r] = stats_mantel_haenszel_or(spark, sf_dir).collect()
    assert r.n_users == len(users)
    assert r.a_total == a_total
    if den > 0:
        assert abs(r.mh_odds_ratio - num / den) < 1e-5
    else:
        assert r.mh_odds_ratio is None


# ----------------------------------------------------------------- skew ----


def test_topk_key_share_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scale_patterns import (
        SKEW_TOPK,
        skew_topk_key_share,
    )

    ev = _events(spark, sf_dir)
    cnt = Counter(r.user_id for r in ev)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    rows = sorted(skew_topk_key_share(spark, sf_dir).collect(), key=lambda r: r.rk)
    assert len(rows) == min(SKEW_TOPK, len(cnt))
    cum = 0
    for r, (uid, n) in zip(rows, ranked):
        cum += n
        assert (r.user_id, r.n_events) == (uid, n)
        assert abs(r.share - round(n / total, 6)) < 1e-12
        assert abs(r.cum_share - round(cum / total, 6)) < 1e-12
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares)  # cumulative share is monotone
