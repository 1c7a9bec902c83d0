"""Replay/invariant tests for the round-9-built stock carriers and the
PCA contract conversion (now in the family operator modules). Oracle-independent
properties only — the tri-SF bit-exact gate owns value parity."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def _doc_tokens(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return {r.doc_id: [t for t in r.text.split(" ") if t] for r in docs.collect()}


def test_witten_bell_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        WB_TERMS,
        text_lm_witten_bell,
    )

    toks = _doc_tokens(spark, sf_dir)
    clen = float(sum(len(l) for l in toks.values() if l))
    cf = [
        float(sum(l.count(t) for l in toks.values())) for t in WB_TERMS
    ]
    got = {r.doc_id: r for r in text_lm_witten_bell(spark, sf_dir).collect()}
    assert set(got) == {d for d, l in toks.items() if l}
    for doc_id, l in toks.items():
        if not l:
            continue
        r = got[doc_id]
        dl, u = len(l), len(set(l))
        assert (r.dl, r.u_types) == (dl, u)
        ll = sum(
            math.log((l.count(t) + u * cf[i] / clen) / (dl + u))
            for i, t in enumerate(WB_TERMS)
        )
        assert abs(r.query_loglik - ll) < 1e-5
        # Witten-Bell probabilities are proper: loglik of a 3-term
        # query is strictly negative.
        assert r.query_loglik < 0


def test_stupid_backoff_replay_and_branch_mix(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        SB_ALPHA,
        SB_BIGRAMS,
        text_lm_stupid_backoff,
    )

    toks = _doc_tokens(spark, sf_dir)
    clen = float(sum(len(l) for l in toks.values() if l))
    cf2 = [
        float(sum(l.count(w2) for l in toks.values()))
        for _, w2 in SB_BIGRAMS
    ]
    got = {r.doc_id: r for r in text_lm_stupid_backoff(spark, sf_dir).collect()}
    n_hit = 0
    for doc_id, l in toks.items():
        if not l:
            continue
        r = got[doc_id]
        score = 0.0
        for i, (w1, w2) in enumerate(SB_BIGRAMS):
            tf12 = sum(
                1 for a, b in zip(l, l[1:]) if a == w1 and b == w2
            )
            tf1 = l.count(w1)
            assert (tf12, tf1) == (
                getattr(r, f"tf12_{i+1}"),
                getattr(r, f"tf1_{i+1}"),
            )
            if tf12 > 0:
                n_hit += 1
                score += math.log2(tf12 / tf1)
            else:
                score += math.log2(SB_ALPHA * cf2[i] / clen)
        assert abs(r.sb_log2 - score) < 1e-5
    # both branches must carry real traffic for the CASE to be tested
    assert 0 < n_hit < 2 * len(got)


def test_rle_runs_matches_groupby(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_rle_runs,
    )

    got = {
        r.doc_id: (r.n_bytes, r.n_runs, r.max_run)
        for r in mm_payload_rle_runs(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for r in docs.collect():
        payload = r.text.encode("utf-8")
        runs = [len(list(g)) for _, g in itertools.groupby(payload)]
        assert got[r.doc_id] == (
            len(payload),
            len(runs),
            max(runs, default=0),
        )
        # runs partition the payload exactly
        assert sum(runs) == len(payload)


def test_bit_density_matches_bitcount(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_bit_density,
    )

    got = {
        r.doc_id: (r.n_bytes, r.total_bits, r.ones_frac)
        for r in mm_payload_bit_density(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for r in docs.collect():
        payload = r.text.encode("utf-8")
        bits = sum(b.bit_count() for b in payload)
        n, tb, frac = got[r.doc_id]
        assert (n, tb) == (len(payload), bits)
        if n:
            assert abs(frac - round(bits / (8 * n), 6)) < 1e-12
            # ASCII bit 7 is always zero -> density strictly below 7/8
            assert 0 < frac < 0.875
        else:
            assert frac is None


def test_pca_variance_contract_matches_numpy_and_gates(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_pca_variance_contract,
    )

    rows = ml_pca_variance_contract(spark, sf_dir).collect()
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mat = np.array(
        [r.embedding for r in em.orderBy("vec_id").collect()], dtype=np.float64
    )
    var = mat.var(axis=0)  # population variance, same denominator
    assert len(rows) == mat.shape[1]
    for r in rows:
        assert r.n_vecs == mat.shape[0]
        assert abs(r.var_pop - var[r.dim - 1]) < 1e-4
        assert r.pca_gates_ok is True


def test_pca_gate_invariants_are_nontrivial(spark, sf_dir):
    """The gate's eigenvalue dominance bound must bite: the top
    explainedVariance proportion of random-ish embeddings sits well
    below 1, so a spectrum permutation or a centering regression that
    concentrates variance would be visible, not vacuous."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import PCA, StandardScaler
    from pyspark.ml.functions import array_to_vector

    em = load_table(spark, sf_dir, "embeddings")
    to_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pipe = Pipeline(
        stages=[
            StandardScaler(
                inputCol="raw_vec", outputCol="centered",
                withMean=True, withStd=False,
            ),
            PCA(k=4, inputCol="centered", outputCol="pc"),
        ]
    )
    fitted = pipe.fit(em.select(array_to_vector(to_double).alias("raw_vec")))
    p = list(fitted.stages[-1].explainedVariance)
    assert p == sorted(p, reverse=True)
    assert 0 < sum(p) <= 1.0 + 1e-9
    # 64 near-isotropic dims: top component explains a minority share
    assert p[0] < 0.5
