"""Replay/invariant tests for the round-9 pre-stock tranche 3
(now in the family operator modules). Oracle-independent properties only —
the tri-SF bit-exact gate owns value parity."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def test_ref_duration_histogram_shares(spark, sf_dir):
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        ref_duration_histogram,
    )

    rows = ref_duration_histogram(spark, sf_dir).collect()
    # dur_i = (i*7) % 8 + 2 over i in 0..39, speaker by parity
    expect: dict = {}
    for i in range(40):
        key = ("Male" if i % 2 == 0 else "Female", float(i * 7 % 8 + 2))
        expect[key] = expect.get(key, 0) + 1
    got = {(r.speaker, r.dur): r.n for r in rows}
    assert got == expect
    for sp in ("Male", "Female"):
        assert abs(sum(r.share for r in rows if r.speaker == sp) - 1) < 1e-6


def test_overlap_days_partition_each_order_window(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        ORDER_WINDOW_DAYS,
        join_range_overlap_days,
    )

    rows = join_range_overlap_days(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    # every order contributes exactly ORDER_WINDOW_DAYS days in total
    assert sum(r.total_overlap_days for r in rows) == n_orders * ORDER_WINDOW_DAYS
    # weeks are Mondays
    import datetime as dt

    for r in rows:
        d = dt.date.fromisoformat(r.week_start)
        assert d.weekday() == 0
        assert 1 <= r.n_orders
        assert r.total_overlap_days <= r.n_orders * ORDER_WINDOW_DAYS


def test_char_trigrams_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        TRIGRAM_DOC_MOD,
        TRIGRAM_PREFIX,
        udtf_char_trigrams,
    )

    got: dict = {}
    for r in udtf_char_trigrams(spark, sf_dir).collect():
        got.setdefault(r.doc_id, {})[r.pos] = r.trigram
    docs = load_table(spark, sf_dir, "documents").collect()
    for d in docs:
        if d.doc_id % TRIGRAM_DOC_MOD != 0 or len(d.text) < 3:
            # unsampled docs AND sampled-but-too-short docs emit no rows
            assert d.doc_id not in got
            continue
        tri = got[d.doc_id]
        n = min(len(d.text) - 2, TRIGRAM_PREFIX)
        assert set(tri) == set(range(1, n + 1))
        for p, g in tri.items():
            assert g == d.text[p - 1 : p + 2]


def test_first_touch_conservation(spark, sf_dir):
    from big_data_audio_classification_spark.operators.analytics import (
        events_session_first_touch,
    )

    rows = events_session_first_touch(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    total_purchase_cents = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")))
        .collect()[0][0]
    )
    # attribution conserves total purchase value across first-touch types
    assert sum(r.attributed_cents for r in rows) == total_purchase_cents
    for r in rows:
        assert 0 <= r.n_converting <= r.n_sessions


def test_hod_effects_sum_to_zero_weighted(spark, sf_dir):
    from big_data_audio_classification_spark.operators.timeseries import (
        analytics_hod_effect_profile,
    )

    rows = analytics_hod_effect_profile(spark, sf_dir).collect()
    assert len(rows) == 24
    n = sum(r.n for r in rows)
    # n-weighted effects sum to ~0 (additive decomposition identity)
    assert abs(sum(r.effect * r.n for r in rows) / n) < 1e-4
    eta = {round(r.eta_sq, 6) for r in rows}
    assert len(eta) == 1  # same eta^2 stamped on every row
    assert 0 <= eta.pop() <= 1


def test_salt_effectiveness_conserves_hot_key(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scale_patterns import (
        SALT_N,
        skew_salt_effectiveness,
    )

    rows = skew_salt_effectiveness(spark, sf_dir).collect()
    assert len(rows) == SALT_N
    ev = load_table(spark, sf_dir, "events")
    hot_n = (
        ev.groupBy("user_id")
        .count()
        .orderBy(F.col("count").desc(), F.col("user_id").asc())
        .limit(1)
        .collect()[0]["count"]
    )
    assert sum(r.n for r in rows) == hot_n  # salting loses nothing
    assert all(r.max_shard == max(x.n for x in rows) for r in rows)
    assert rows[0].max_over_ideal >= 1.0  # max shard can't beat ideal


def test_quartile_skew_matches_numpy(spark, sf_dir):
    import numpy as np

    from big_data_audio_classification_spark.operators.aggregates import (
        agg_pandas_udaf_quartile_skew,
    )

    got = {
        r.status: (r.n, r.bowley_skew)
        for r in agg_pandas_udaf_quartile_skew(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice"
    ).collect()
    groups: dict = {}
    for r in o:
        groups.setdefault(r.o_orderstatus, []).append(r.o_totalprice)
    for st, vals in groups.items():
        q1, q2, q3 = np.percentile(np.array(vals), [25, 50, 75], method="linear")
        ref = (q1 + q3 - 2 * q2) / (q3 - q1)
        n, skew = got[st]
        assert n == len(vals)
        assert abs(skew - round(ref, 6)) < 1e-9
        assert -1 <= skew <= 1  # Bowley skew is bounded


def test_multiline_csv_preserves_newlines(spark, sf_dir):
    from big_data_audio_classification_spark.operators.advanced import (
        sink_csv_multiline_quoted_roundtrip,
    )

    r = sink_csv_multiline_quoted_roundtrip(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 40).alias("p")
    ).collect()
    assert r.n == len(docs)
    assert r.n_with_newline == len(docs)  # every row embeds one LF
    assert r.total_len == sum(len(d.source) + 1 + len(d.p) for d in docs)
    assert r.min_doc_id == min(d.doc_id for d in docs)


def test_minmax_position_bounds_and_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        window_rolling_minmax_position,
    )

    rows = window_rolling_minmax_position(spark, sf_dir).collect()
    for r in rows[:500]:
        assert r.roll_min <= r.cents <= r.roll_max
        if r.channel_pos is not None:
            assert 0 <= r.channel_pos <= 1
        else:
            assert r.roll_min == r.roll_max


def test_cochran_armitage_matches_python(spark, sf_dir):
    from big_data_audio_classification_spark.operators.experiments import (
        stats_cochran_armitage_trend,
    )

    r = stats_cochran_armitage_trend(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.hour("ts") / 6).alias("k"),
        (F.col("event_type") == "error").cast("int").alias("y"),
    ).collect()
    from collections import defaultdict

    n = defaultdict(int)
    rr = defaultdict(int)
    for e in ev:
        n[e.k] += 1
        rr[e.k] += e.y
    nt, rt = sum(n.values()), sum(rr.values())
    sxr = sum(rr[k] * k for k in n)
    sxn = sum(n[k] * k for k in n)
    sxxn = sum(n[k] * k * k for k in n)
    p = rt / nt
    z = (sxr - rt * sxn / nt) / math.sqrt(
        p * (1 - p) * (sxxn - sxn * sxn / nt)
    )
    assert (r.n_total, r.n_events) == (nt, rt)
    assert abs(r.z_trend - round(z, 4)) < 1e-6


def test_autocorr_replay_one_user(spark, sf_dir):
    from big_data_audio_classification_spark.operators.audio import (
        AC_FRAME,
        audio_autocorr_lag1,
    )

    got = {r.user_id: r for r in audio_autocorr_lag1(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.round(F.col("value") * 100).cast("bigint").alias("c")
    ).collect()
    series: dict = {}
    for e in sorted(ev, key=lambda x: (x.user_id, x.ts, x.event_id)):
        series.setdefault(e.user_id, []).append(e.c)
    uid = sorted(series)[0]
    cs = series[uid]
    r1s = []
    for f0 in range(0, len(cs), AC_FRAME):
        fr = cs[f0 : f0 + AC_FRAME]
        den = sum(c * c for c in fr)
        if den > 0:
            r1s.append(sum(a * b for a, b in zip(fr, fr[1:])) / den)
    r = got[uid]
    assert r.n_frames == len(r1s)
    assert abs(r.mean_r1 - round(sum(r1s) / len(r1s), 6)) < 1e-5
    assert 0 <= r.min_r1 <= r.max_r1 <= 1 + 1e-9


def test_heldout_perplexity_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        HELDOUT_FOLDS,
        text_lm_heldout_perplexity,
    )
    import hashlib

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()

    def held(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % HELDOUT_FOLDS == 0

    vocab: dict = {}
    for d in docs:
        if not held(d.doc_id):
            for t in d.text.split(" "):
                if t:
                    vocab[t] = vocab.get(t, 0) + 1
    denom = sum(vocab.values()) + len(vocab) + 1
    per_source: dict = {}
    for d in docs:
        toks = [t for t in d.text.split(" ") if t]
        if not held(d.doc_id) or not toks:
            continue
        lp = sum(math.log2(vocab.get(t, 0) + 1) for t in toks) / len(toks)
        per_source.setdefault(d.source, []).append(
            round(lp - math.log2(denom), 6)
        )
    got = {r.source: r for r in text_lm_heldout_perplexity(spark, sf_dir).collect()}
    assert set(got) == set(per_source)
    for src, lps in per_source.items():
        r = got[src]
        assert r.n_docs == len(lps)
        mean = sum(lps) / len(lps)
        assert abs(r.mean_doc_log2p - round(mean, 6)) < 1e-5
        assert abs(r.perplexity - round(2 ** -mean, 4)) < 1e-2
        assert r.perplexity > 1


def test_fletcher16_matches_reference_impl(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        FLETCHER_MOD,
        mm_payload_fletcher16,
    )

    got = {
        r.doc_id: (r.n_bytes, r.fletcher16)
        for r in mm_payload_fletcher16(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for d in docs:
        payload = d.text.encode("utf-8")
        # the classic iterative definition
        s1 = s2 = 0
        for b in payload:
            s1 = (s1 + b) % FLETCHER_MOD
            s2 = (s2 + s1) % FLETCHER_MOD
        assert got[d.doc_id] == (len(payload), (s2 << 8) | s1)
