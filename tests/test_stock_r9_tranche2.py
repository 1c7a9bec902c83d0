"""Replay/invariant tests for the round-9 pre-stock tranche 2
(now in the family operator modules). Oracle-independent properties only —
the tri-SF bit-exact gate owns value parity."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources.catalog import load_table


def test_asof_nearest_matches_bruteforce(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        ASOF_NEAREST_TOL_US,
        join_asof_nearest_abs,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    rows = ev.collect()
    clicks_by_user: dict = {}
    for r in rows:
        if r.event_type == "click":
            clicks_by_user.setdefault(r.user_id, []).append((r.us, r.event_id))
    got = {r.error_id: r for r in join_asof_nearest_abs(spark, sf_dir).collect()}
    errors = [r for r in rows if r.event_type == "error"]
    assert len(got) == len(errors)
    for e in errors:
        cands = clicks_by_user.get(e.user_id, [])
        # backward: latest cts<=ts (tie: largest cid); forward: earliest
        # cts>=ts (tie: smallest cid); choose smaller delta, tie -> back
        back = max(
            (c for c in cands if c[0] <= e.us and e.us - c[0] <= ASOF_NEAREST_TOL_US),
            default=None,
        )
        fwd = min(
            (c for c in cands if c[0] >= e.us and c[0] - e.us <= ASOF_NEAREST_TOL_US),
            default=None,
        )
        r = got[e.event_id]
        if back is not None and (fwd is None or e.us - back[0] <= fwd[0] - e.us):
            assert (r.click_id, r.delta_us, r.side) == (
                back[1], e.us - back[0], "back",
            )
        elif fwd is not None:
            assert (r.click_id, r.delta_us, r.side) == (
                fwd[1], fwd[0] - e.us, "fwd",
            )
        else:
            assert r.click_id is None and r.delta_us is None and r.side is None


def test_setops_census_identity(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        set_symmetric_diff_census,
    )

    r = set_symmetric_diff_census(spark, sf_dir).collect()[0]
    # inclusion-exclusion identities
    assert r.n_click == r.n_both + r.n_click_only
    assert r.n_purchase == r.n_both + r.n_purchase_only
    assert r.n_union == r.n_both + r.n_symdiff
    assert 0 < r.jaccard <= 1


def test_grouping_sets_marginals_sum_to_total(spark, sf_dir):
    from big_data_audio_classification_spark.operators.aggregates import (
        agg_grouping_sets_dow_hour,
    )

    rows = agg_grouping_sets_dow_hour(spark, sf_dir).collect()
    total = [r for r in rows if r.gid == 3]
    assert len(total) == 1
    for gid, keycount in ((1, 7), (2, 24)):  # dow marginal / hr marginal
        marg = [r for r in rows if r.gid == gid]
        assert len(marg) <= keycount
        assert sum(r.n for r in marg) == total[0].n
        assert sum(r.cents for r in marg) == total[0].cents
    cells = [r for r in rows if r.gid == 0]
    assert sum(r.n for r in cells) == total[0].n
    # dow uses the DuckDB convention (0=Sunday)
    assert all(0 <= r.dow <= 6 for r in rows if r.gid in (0, 1))


def test_salient_terms_ranking_is_integer_lexicographic(spark, sf_dir):
    from big_data_audio_classification_spark.operators.text import (
        SALIENT_K,
        text_topk_salient_terms,
    )

    out = text_topk_salient_terms(spark, sf_dir)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r.doc_id, []).append(r)
    docs = load_table(spark, sf_dir, "documents").collect()
    n_docs = sum(1 for d in docs if [t for t in d.text.split(" ") if t])
    for d in docs[:50]:
        toks = [t for t in d.text.split(" ") if t]
        if not toks:
            continue
        rs = sorted(per_doc[d.doc_id], key=lambda r: r.rank)
        assert 1 <= len(rs) <= SALIENT_K
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        # rank 1 must be a maximal-tf term
        assert tf[rs[0].term] == max(tf.values())
        for r in rs:
            assert r.tf == tf[r.term]
            assert abs(r.tfidf - round(r.tf * math.log(n_docs / r.df), 6)) < 1e-9
        # ranking strictly decreasing in the integer triple
        triples = [(-r.tf, r.df, r.term) for r in rs]
        assert triples == sorted(triples)


def test_bitwise_battery_python_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_math_bitwise_battery,
    )

    got = {r.event_id: r for r in scalar_math_bitwise_battery(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id").collect()
    for e in ev[:200]:
        a, b = e.event_id, e.user_id
        r = got[a]
        assert (r.and_ab, r.or_ab, r.xor_ab) == (a & b, a | b, a ^ b)
        assert (r.shl3, r.shr2) == ((a % 1024) << 3, a >> 2)
        assert (r.pop_a, r.pop_b) == (a.bit_count(), b.bit_count())
        assert r.odd_a == bool(a & 1)


def test_json_and_variant_paths_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_json_nested_paths,
        scalar_variant_array_elements,
    )

    ev = {
        r.event_id: r
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .collect()
    }
    for r in scalar_json_nested_paths(spark, sf_dir).collect():
        e = ev[r.event_id]
        assert (r.p0, r.q0, r.p1) == (
            e.event_id % 7, e.event_id % 3, e.user_id % 5,
        )
        assert r.q1_missing is True
        assert r.n_items == 2
        assert r.seg == e.event_type
    for r in scalar_variant_array_elements(spark, sf_dir).collect():
        e = ev[r.event_id]
        assert r.n_elems == 4
        assert (r.t0, r.t1, r.t3) == ("int", "string", "object")
        assert r.e2_is_null is True
        assert r.u_typed == e.user_id


def test_map_collision_census_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        scalar_map_collision_census,
    )

    rows = scalar_map_collision_census(spark, sf_dir).collect()
    ev = {
        r.event_id: r
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .collect()
    }
    n_inv = 0
    for r in rows:
        e = ev[r.event_id]
        vals = (e.event_id % 97, e.user_id % 97, (e.event_id + e.user_id) % 97)
        assert (r.v_t, r.v_u, r.v_m) == vals
        assert r.n_distinct_vals == len(set(vals))
        assert r.invertible == (len(set(vals)) == 3)
        assert r.has_tax is False
        n_inv += r.invertible
    assert 0 < n_inv < len(rows)  # both branches carry traffic


def test_array_probe_replay(spark, sf_dir):
    from big_data_audio_classification_spark.operators.scalars import (
        array_rotate_reverse_probe,
    )

    for r in array_rotate_reverse_probe(spark, sf_dir).collect()[:300]:
        lo = int(r.arr.split(",")[0])
        l = list(range(lo, lo + 6))
        assert r.arr == ",".join(map(str, l))
        assert r.arr_rev == ",".join(map(str, l[::-1]))
        assert r.arr_rot2 == ",".join(map(str, l[2:] + l[:2]))
        assert r.pos_probe == l.index(lo + 3) + 1
        assert r.has_head is True
        assert r.fold_sum == sum(l)
        assert r.n_mod3 == len({x % 3 for x in l})


def test_lsh_bucket_entropy_bounds_and_pair_mass(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        _lsh_band_table,
    )
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_lsh_bucket_entropy,
    )

    rows = dedup_lsh_bucket_entropy(spark, sf_dir).collect()
    assert len(rows) == LSH_BANDS
    d = load_table(spark, sf_dir, "documents")
    sizes = (
        _lsh_band_table(d)
        .groupBy("band_id", "band_hash")
        .count()
        .groupBy("band_id")
        .agg(
            F.sum(F.expr("count * (count - 1) DIV 2")).alias("pm"),
            F.count(F.lit(1)).alias("nb"),
        )
        .collect()
    )
    expect = {r.band_id: (r.pm, r.nb) for r in sizes}
    for r in rows:
        pm, nb = expect[r.band_id]
        assert (r.pair_mass, r.n_buckets) == (pm, nb)
        # 0 <= H <= log2(n_buckets)
        assert -1e-9 <= r.entropy_bits <= math.log2(nb) + 1e-9


def test_simhash_multiprobe_matches_bruteforce(spark, sf_dir):
    from big_data_audio_classification_spark.operators.dedup import dedup_simhash
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash_multiprobe16,
    )

    fps = [
        (r.doc_id, r.simhash >> 16)
        for r in dedup_simhash(spark, sf_dir).collect()
    ]
    got = {r.bit_k: r.n_pairs for r in dedup_simhash_multiprobe16(spark, sf_dir).collect()}
    assert set(got) == set(range(16))
    expect = {k: 0 for k in range(16)}
    by_fp: dict = {}
    for doc_id, fp in fps:
        by_fp.setdefault(fp, []).append(doc_id)
    for fp, docs in by_fp.items():
        for k in range(16):
            other = fp ^ (1 << k)
            if other in by_fp and other > fp:
                expect[k] += len(docs) * len(by_fp[other])
    assert got == expect


def test_quadratic_fit_matches_numpy(spark, sf_dir):
    import numpy as np

    from big_data_audio_classification_spark.operators.ml import (
        ml_quadratic_normal_equations,
    )

    got = {r.priority: r for r in ml_quadratic_normal_equations(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.dayofmonth("o_orderdate").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    ).collect()
    groups: dict = {}
    for r in o:
        groups.setdefault(r.o_orderpriority, []).append((r.x, r.y))
    for prio, pts in groups.items():
        x = np.array([p[0] for p in pts], dtype=np.float64)
        y = np.array([p[1] for p in pts], dtype=np.float64)
        c2, c1, c0 = np.polyfit(x, y, 2)
        r = got[prio]
        assert r.n == len(pts)
        # Cramer over exact integers vs numpy lstsq: agree to ~1e-4 rel
        for mine, ref in ((r.a_cents, c0), (r.b_cents, c1), (r.c_cents, c2)):
            assert abs(mine - ref) <= 1e-4 * max(1.0, abs(ref))


def test_exists_census_counts(spark, sf_dir):
    from big_data_audio_classification_spark.operators.relational import (
        subquery_exists_census,
    )

    rows = subquery_exists_census(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer").collect()
    okeys = {
        r.o_custkey
        for r in load_table(spark, sf_dir, "orders").select("o_custkey").collect()
    }
    by_seg: dict = {}
    for c in cust:
        seg = by_seg.setdefault(c.c_mktsegment, [0, 0])
        seg[0] += 1
        seg[1] += c.c_custkey in okeys
    for r in rows:
        n, nw = by_seg[r.segment]
        assert (r.n_customers, r.n_with_orders) == (n, nw)
        assert r.n_without_orders == n - nw
        assert 0 <= r.n_with_big_order <= nw
        assert abs(r.active_share - round(nw / n, 6)) < 1e-12


def test_ivf_split_merge_plan_consistency(spark, sf_dir):
    from big_data_audio_classification_spark.operators.similarity import IVF_CELLS
    from big_data_audio_classification_spark.operators.similarity import (
        MERGE_RATIO,
        SPLIT_RATIO,
        sim_ivf_split_merge_plan,
    )

    rows = sim_ivf_split_merge_plan(spark, sf_dir).collect()
    assert len(rows) == IVF_CELLS
    n_total = sum(r.n_vecs for r in rows)
    em_count = load_table(spark, sf_dir, "embeddings").count()
    assert n_total == em_count  # every vector assigned exactly once
    for r in rows:
        ratio = r.n_vecs * len(rows) / n_total
        assert abs(r.occupancy_ratio - round(ratio, 6)) < 1e-9
        if ratio > SPLIT_RATIO:
            assert r.action == "split"
        elif ratio < MERGE_RATIO:
            assert r.action == "merge"
        else:
            assert r.action == "keep"


def test_point_biserial_matches_numpy(spark, sf_dir):
    import numpy as np

    from big_data_audio_classification_spark.operators.ml import (
        PB_POS_LABEL,
        ml_point_biserial_selection,
    )

    em = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in em], dtype=np.float64)
    g = np.array([1 if r.label == PB_POS_LABEL else 0 for r in em])
    rows = ml_point_biserial_selection(spark, sf_dir).collect()
    assert len(rows) == mat.shape[1]
    p = g.mean()
    for r in rows:
        v = mat[:, r.dim - 1]
        ref = (v[g == 1].mean() - v[g == 0].mean()) / v.std() * math.sqrt(
            p * (1 - p)
        )
        assert (r.n1, r.n0) == (int(g.sum()), int((1 - g).sum()))
        assert abs(r.r_pb - ref) < 1e-4
        assert -1 <= r.r_pb <= 1


def test_binary_encoding_roundtrip(spark, sf_dir):
    from big_data_audio_classification_spark.operators.ml import (
        ml_binary_encoding,
    )

    rows = ml_binary_encoding(spark, sf_dir).collect()
    types = sorted({r.event_type for r in rows})
    for r in rows:
        assert r.ord == types.index(r.event_type)
        assert r.b0 + 2 * r.b1 + 4 * r.b2 == r.ord  # bits reassemble
