"""Replay/invariant tests for the round-10 stock tranche 2
(now in the family operator modules). Oracle-independent properties only —
the tri-SF bit-exact gate owns value parity. Every carrier in the
tranche has at least one test here (the gating-battery replay leg)."""

from __future__ import annotations

import json
import math
from collections import Counter

import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def _doc_rows(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return docs.collect()


def _doc_tokens(rows):
    return {r.doc_id: [t for t in r.text.split(" ") if t] for r in rows}


# ---------------------------------------------------------------- lm ----


def test_kl_source_divergence_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        text_lm_kl_source_divergence,
    )

    rows = _doc_rows(spark, sf_dir)
    toks = _doc_tokens(rows)
    src_of = {r.doc_id: r.source for r in rows}
    corpus = Counter(t for l in toks.values() for t in l)
    clen = sum(corpus.values())
    by_src: dict[str, Counter] = {}
    for doc_id, l in toks.items():
        by_src.setdefault(src_of[doc_id], Counter()).update(l)

    got = {
        r.source: r for r in text_lm_kl_source_divergence(spark, sf_dir).collect()
    }
    assert set(got) == {s for s, c in by_src.items() if c}
    for src, cnt in by_src.items():
        slen = sum(cnt.values())
        kl = sum(
            (c / slen) * math.log2((c / slen) / (corpus[t] / clen))
            for t, c in cnt.items()
        )
        r = got[src]
        assert r.n_terms == len(cnt)
        assert abs(r.kl_bits - kl) < 1e-5
        assert r.kl_bits >= 0.0  # Gibbs' inequality (KL is non-negative)


def test_surprisal_profile_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.lm_quality import (
        text_lm_token_surprisal_profile,
    )

    toks = _doc_tokens(_doc_rows(spark, sf_dir))
    corpus = Counter(t for l in toks.values() for t in l)
    clen = sum(corpus.values())
    got = {
        r.doc_id: r
        for r in text_lm_token_surprisal_profile(spark, sf_dir).collect()
    }
    assert set(got) == {d for d, l in toks.items() if l}
    for doc_id, l in list(toks.items())[:50]:
        if not l:
            continue
        sur = [-math.log2(corpus[t] / clen) for t in l]
        r = got[doc_id]
        assert r.dl == len(l)
        assert abs(r.mean_surprisal - sum(sur) / len(sur)) < 1e-5
        assert abs(r.max_surprisal - max(sur)) < 1e-5
        assert r.max_surprisal >= r.mean_surprisal - 1e-9


# ------------------------------------------------------- mapInPandas ----


def test_chunk_sum_tree_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        CHUNK_BYTES,
        mm_payload_chunk_sum_tree,
    )

    rows = _doc_rows(spark, sf_dir)
    got = {
        r.doc_id: r for r in mm_payload_chunk_sum_tree(spark, sf_dir).collect()
    }
    assert set(got) == {r.doc_id for r in rows}
    for ref in rows[:50]:
        b = ref.text.encode("utf-8")
        chunks = [
            sum(b[i : i + CHUNK_BYTES])
            for i in range(0, len(b), CHUNK_BYTES)
        ]
        r = got[ref.doc_id]
        assert r.n_chunks == len(chunks)
        assert r.root_sum == sum(chunks)
        assert r.weighted_sum == sum(c * (i + 1) for i, c in enumerate(chunks))
        assert r.max_chunk_sum == (max(chunks) if chunks else 0)
        # the weighted root must detect a chunk swap the plain root misses
        if len(chunks) >= 2 and chunks[0] != chunks[1]:
            sw = chunks[1::-1] + chunks[2:]
            assert sum(sw) == sum(chunks)
            assert sum(c * (i + 1) for i, c in enumerate(sw)) != r.weighted_sum


def _luhn(digits: list[int]) -> int:
    total = 0
    for i, d in enumerate(reversed(digits)):
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total


def test_luhn_mod10_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.multimodal import (
        mm_payload_luhn_mod10,
    )

    rows = _doc_rows(spark, sf_dir)
    got = {r.doc_id: r for r in mm_payload_luhn_mod10(spark, sf_dir).collect()}
    assert set(got) == {r.doc_id for r in rows}
    n_with_digits = 0
    for ref in rows[:100]:
        digits = [int(c) for c in ref.text if c.isdigit()]
        r = got[ref.doc_id]
        assert r.n_digits == len(digits)
        assert r.luhn_sum == _luhn(digits)
        # digit-less payloads pin FALSE (no number present), per contract
        expect_valid = bool(digits) and r.luhn_sum % 10 == 0
        assert r.luhn_valid == expect_valid
        n_with_digits += bool(digits)
    # canonical vectors: 4539 1488 0343 6467 validates, 1234 does not
    assert _luhn([int(c) for c in "4539148803436467"]) % 10 == 0
    assert _luhn([1, 2, 3, 4]) % 10 != 0


# ------------------------------------------------------------- setop ----


def test_intersect_three_way_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        set_intersect_three_way,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    ).collect()
    by_type: dict[str, set] = {}
    for r in ev:
        by_type.setdefault(r.event_type, set()).add(r.user_id)
    c, v, p = (by_type.get(t, set()) for t in ("click", "view", "purchase"))
    [r] = set_intersect_three_way(spark, sf_dir).collect()
    assert (r.n_click, r.n_view, r.n_purchase) == (len(c), len(v), len(p))
    assert r.n_click_view == len(c & v)
    assert r.n_core == len(c & v & p)
    assert r.core_ppm_of_click == len(c & v & p) * 1_000_000 // len(c)
    assert r.n_core <= r.n_click_view <= min(r.n_click, r.n_view)


# ---------------------------------------------------------- grouping ----


def test_groupingsets_weighted_avg_structure(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_groupingsets_weighted_avg,
    )

    rows = agg_groupingsets_weighted_avg(spark, sf_dir).collect()
    by_gid: dict[int, list] = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    # (flag,status)=0, (flag)=1, grand total=3 under the 2-col bitmask
    assert set(by_gid) == {0, 1, 3}
    [total] = by_gid[3]
    assert (total.returnflag, total.linestatus) == ("ALL", "ALL")
    assert total.n == sum(r.n for r in by_gid[0])
    assert total.qty == sum(r.qty for r in by_gid[0])
    # per-flag rollup re-aggregates its (flag, status) children exactly
    for fr in by_gid[1]:
        kids = [r for r in by_gid[0] if r.returnflag == fr.returnflag]
        assert fr.n == sum(r.n for r in kids)
        assert fr.qty == sum(r.qty for r in kids)
    # a qty-weighted mean lies inside the observed price range
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    lo, hi = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).first()
    for r in rows:
        assert lo - 0.01 <= r.qty_weighted_price <= hi + 0.01


# ------------------------------------------------------------ sketch ----


def test_linear_counting_estimator_quality(spark, sf_dir):
    from big_data_audio_classification_spark.operators.sketch_cms import (
        LC_BUCKETS,
        sketch_linear_counting,
    )

    rows = sketch_linear_counting(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.occupied <= min(r.exact_distinct, LC_BUCKETS)
        if r.occupied < LC_BUCKETS:
            # load factor is tiny at test SFs -> estimator is tight
            assert r.lc_estimate is not None
            assert abs(r.lc_estimate - r.exact_distinct) <= max(
                3, 0.2 * r.exact_distinct
            )
            # linear counting never undershoots the occupied-bucket count
            assert r.lc_estimate >= r.occupied
        else:
            assert r.lc_estimate is None


# ------------------------------------------------------------ string ----


def test_string_transform_battery_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        STR_TOPK,
        scalar_string_transform_battery,
    )

    toks = _doc_tokens(_doc_rows(spark, sf_dir))
    corpus = Counter(t for l in toks.values() for t in l)
    top = sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[:STR_TOPK]
    rows = scalar_string_transform_battery(spark, sf_dir).collect()
    assert len(rows) == min(STR_TOPK, len(corpus))
    vm = str.maketrans("aeiou", "*****")
    for r in sorted(rows, key=lambda r: r.rk):
        tok, n = top[r.rk - 1]
        assert (r.tok, r.n) == (tok, n)
        assert r.up == tok.upper()
        assert r.rev == tok[::-1]
        assert r.vowels_masked == tok.translate(vm)
        assert r.e_doubled == tok.replace("e", "ee")
        assert r.padded == tok.rjust(12, ".") if len(tok) <= 12 else r.padded
        assert r.len == len(tok)


# -------------------------------------------------------------- math ----


def test_gray_code_rollup_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_math_gray_code_rollup,
    )

    keys = [
        r.o_orderkey
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .collect()
    ]
    exp: dict[int, list[int]] = {}
    for k in keys:
        b = k % 16
        e = exp.setdefault(b, [0, 0, 0, 0, 0, 0])
        e[0] += 1
        e[1] += k & 255
        e[2] += k | 15
        e[3] += k ^ (k >> 1)
        e[4] += k << 2
        e[5] += bin(k).count("1")
    rows = scalar_math_gray_code_rollup(spark, sf_dir).collect()
    assert {r.bucket for r in rows} == set(exp)
    for r in rows:
        e = exp[r.bucket]
        assert [r.n, r.sum_and, r.sum_or, r.sum_gray, r.sum_shl2, r.sum_pop] == e


# -------------------------------------------------------------- json ----


def test_json_keys_census_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_json_keys_census,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "props"
    ).collect()
    exp_n = Counter(r.event_type for r in ev)
    exp_keys: dict[str, int] = Counter()
    sigs: dict[str, str] = {}
    for r in ev:
        keys = list(json.loads(r.props).keys())
        exp_keys[r.event_type] += len(keys)
        sig = ",".join(keys)
        if r.event_type not in sigs or sig < sigs[r.event_type]:
            sigs[r.event_type] = sig
    rows = scalar_json_keys_census(spark, sf_dir).collect()
    assert {r.event_type for r in rows} == set(exp_n)
    for r in rows:
        assert r.n == exp_n[r.event_type]
        assert r.total_prop_keys == exp_keys[r.event_type]
        assert r.prop_keys_sig == sigs[r.event_type]
        # engine-built struct serializes in declared field order
        assert r.built_keys_sig == "u,t,v"


# ------------------------------------------------------------- array ----


def test_array_map_index_battery_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_array_map_index_battery,
    )

    vec_ids = [
        r.vec_id
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .collect()
    ]
    per_bucket = Counter(v % 10 for v in vec_ids)
    rows = scalar_array_map_index_battery(spark, sf_dir).collect()
    assert {r.bucket for r in rows} == set(per_bucket)
    for r in rows:
        seq = list(range(1, r.bucket + 4))  # 1..(bucket%10)+3, len >= 3
        assert r.n == per_bucket[r.bucket]
        assert r.seq_len == len(seq)
        assert (r.first_el, r.last_el) == (1, seq[-1])
        assert r.pos_of_3 == 3  # 3 is always present (len >= 3), 1-based
        assert r.total_sum_sq == r.n * sum(v * v for v in seq)
        assert r.total_tail_sum == r.n * sum(seq[1:])


# ------------------------------------------------------------- dedup ----


def test_signature_stability_profile(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import MINHASH_K
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_lsh_signature_stability,
    )

    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = dedup_lsh_signature_stability(spark, sf_dir).collect()
    assert {r.slot for r in rows} == set(range(MINHASH_K))
    for r in rows:
        assert r.n_docs == n_docs
        assert 1 <= r.n_distinct <= r.n_docs
        assert r.min_hash >= 0
        assert 0.0 <= r.collision_rate <= 1.0
        assert (
            abs(r.collision_rate - round(1.0 - r.n_distinct / r.n_docs, 6))
            < 1e-12
        )


def test_simhash_halfword_correlation_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_halfword_correlation,
    )

    n_docs = load_table(spark, sf_dir, "documents").count()
    [r] = dedup_simhash_halfword_correlation(spark, sf_dir).collect()
    assert r.n == n_docs
    assert 0 <= r.sx <= 16 * n_docs and 0 <= r.sy <= 16 * n_docs
    if r.pearson_r is not None:
        assert -1.0 <= r.pearson_r <= 1.0
