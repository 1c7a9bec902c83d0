"""Replay/invariant tests for the round-8-built stock carriers
(now in the family operator modules). Oracle-independent properties only — the
tri-SF bit-exact gate owns value parity."""

from __future__ import annotations

import zlib

import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def test_rolling_drawdown_matches_pandas_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        window_rolling_drawdown,
    )

    got = {
        r.event_id: (r.cum_cents, r.peak_cents, r.drawdown_cents)
        for r in window_rolling_drawdown(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["c"] = (ev.value * 100).round().astype("int64")
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    ev["cum"] = ev.groupby("user_id").c.cumsum()
    ev["peak"] = ev.groupby("user_id").cum.cummax()
    assert len(got) == len(ev)
    for _, r in ev.iterrows():
        cum, peak, dd = got[r.event_id]
        assert (cum, peak, dd) == (r.cum, r.peak, r.peak - r.cum)
        assert dd >= 0  # the running max never falls below the series


def test_drawdown_frac_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.windows import (
        window_rolling_drawdown,
    )

    df = window_rolling_drawdown(spark, sf_dir)
    bad = df.filter(
        F.col("drawdown_frac").isNotNull()
        & ((F.col("drawdown_frac") < 0) | (F.col("drawdown_frac") > 1))
    ).count()
    # drawdown is peak−cum with cum ≤ peak, and cum > 0 ⇒ frac < 1
    assert bad == 0


def test_adler_checksum_matches_zlib(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_adler_checksum,
    )

    got = {
        r.doc_id: (r.n_bytes, r.adler32)
        for r in mm_payload_adler_checksum(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for r in docs.collect():
        payload = r.text.encode("utf-8")
        assert got[r.doc_id] == (len(payload), zlib.adler32(payload))


def test_adler_positional_definition():
    """The oracle's positional restatement (s1 = 1+Σb, s2 = n+Σ(n−i+1)·b,
    both mod 65521) IS Adler-32 — verified against zlib on adversarial
    payloads (empty-adjacent, all-same, mod-wrap lengths)."""
    from big_data_audio_classification_spark.operators.multimodal import ADLER_MOD

    for payload in (b"a", b"zz", b"x" * 5000, bytes(range(32, 127)) * 80):
        n = len(payload)
        s1 = (1 + sum(payload)) % ADLER_MOD
        s2 = (n + sum((n - i) * b for i, b in enumerate(payload))) % ADLER_MOD
        assert s2 * 65536 + s1 == zlib.adler32(payload)


def test_dirichlet_prior_replay_and_length_adaptivity(spark, sf_dir):
    import math

    from big_data_audio_classification_spark.operators.lm_quality import (
        DIR_MU,
        DIR_TERMS,
        text_lm_dirichlet_prior,
    )

    rows = text_lm_dirichlet_prior(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").toPandas()
    toks = {
        r.doc_id: [t for t in r.text.split(" ") if t]
        for r in docs.itertuples()
    }
    clen = float(sum(len(v) for v in toks.values()))
    cf = [
        float(sum(ts.count(t) for ts in toks.values())) for t in DIR_TERMS
    ]
    for r in rows:
        ts = toks[r.doc_id]
        dl = len(ts)
        assert r.dl == dl
        tfs = [ts.count(t) for t in DIR_TERMS]
        assert (r.tf1, r.tf2, r.tf3) == tuple(tfs)
        want = sum(
            math.log((tfs[i] + DIR_MU * cf[i] / clen) / (dl + DIR_MU))
            for i in range(3)
        )
        assert abs(r.query_loglik - want) < 1e-4
    # length adaptivity: among zero-tf docs the smoothed score decreases
    # with document length (the Dirichlet shrinkage property JM lacks)
    zero = sorted(
        (r.dl, r.query_loglik)
        for r in rows
        if (r.tf1, r.tf2, r.tf3) == (0, 0, 0)
    )
    if len(zero) >= 2:
        assert zero[0][1] >= zero[-1][1]
