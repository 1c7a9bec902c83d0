"""Golden-parity and statistical tests for the ML operators (SURVEY §5.2
items 2 and 4). sklearn is unavailable in this container, so oracles are
pure numpy (same math sklearn uses: centered SVD for PCA)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from big_data_audio_classification_spark.functions import moments
from big_data_audio_classification_spark.operators import ml
from big_data_audio_classification_spark.sources.catalog import load_table


def test_pca_matches_numpy_svd_sign_invariant(spark, sf_dir):
    """R21 parity: the moment-pass PCA == numpy centered SVD up to
    per-component sign (SURVEY §7: sign-indeterminate comparison)."""
    out = ml.ml_pca_embeddings(spark, sf_dir).orderBy("vec_id").collect()
    em = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    X = np.array([r.embedding for r in em], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    # principal axes = right singular vectors of the centered matrix
    _, _, vt = np.linalg.svd(Xc, full_matrices=False)
    expected = Xc @ vt[:4].T
    got = np.array([[r[f"pc{i}"] for i in range(4)] for r in out])
    for comp in range(4):
        same = np.allclose(got[:, comp], expected[:, comp], atol=1e-4)
        flipped = np.allclose(got[:, comp], -expected[:, comp], atol=1e-4)
        assert same or flipped, f"component {comp} mismatch beyond sign"


def test_moment_kernels_match_np_cov_over_uneven_partitions():
    """Chan's merge over partitions of 0, 1, 7, 292 and 700 rows (the
    last in uneven Arrow batches, one empty) and a second merge level,
    on data offset by 1e6: centred moments keep np.cov's precision."""
    rng = np.random.default_rng(0)
    X = rng.normal(size=(1000, 6)) * [1, 2, 3, 0.5, 1e-3, 10] + 1e6
    bounds = [0, 0, 1, 8, 300, 1000]
    parts = [X[a:b] for a, b in zip(bounds, bounds[1:])]

    def batches(rows, cuts):
        return [pd.DataFrame({"x": list(rows[a:b])}) for a, b in zip(cuts, cuts[1:])]

    partials = []
    for rows in parts:
        cuts = [0, 5, 5, 333, len(rows)] if len(rows) == 700 else [0, len(rows)]
        partials += list(moments.partial_moments(iter(batches(rows, cuts))))
    assert len(partials) == 4  # none for the empty partition
    merged = [
        *moments.merge_moments(iter(partials[:1])),
        *moments.merge_moments(iter([pd.concat(partials[1:])])),
    ]
    n, mean, m2 = moments.merge_rows(pd.concat(merged).itertuples(index=False))
    want = np.cov(X, rowvar=False)
    assert n == 1000
    assert np.abs(mean - X.mean(axis=0)).max() <= 1e-9 * 1e6
    assert np.abs(m2 / (n - 1) - want).max() <= 1e-9 * np.abs(want).max()


def test_pca_rows_do_not_depend_on_input_partitions(spark, sf_dir, tmp_path):
    """Same rows, signs included, from 1 input partition and from 8. With
    8 > spark.sql.shuffle.partitions = 2 the moment rows are merged a
    second time, so the driver collects 2 rows, not 8."""
    em = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(em, path, row_group_size=-(-em.num_rows // 8))
    results = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        for split_bytes in (os.path.getsize(path) // 8, 128 << 20):
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
            scan = load_table(spark, str(tmp_path), "embeddings")
            n_parts = scan.select(F.spark_partition_id()).distinct().count()
            assert moments.moment_rows(scan, F.col("embedding")).count() == min(n_parts, 2)
            rows = ml.ml_pca_embeddings(spark, str(tmp_path)).orderBy("vec_id").collect()
            results[n_parts] = rows
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert sorted(results) == [1, 8]
    assert results[1] == results[8]


def test_pca_build_is_two_jobs_without_mllib(spark, sf_dir, job_group, monkeypatch):
    """The fit is one moment pass (at most two stages, so two jobs under
    AQE), with no ``pyspark.ml`` import."""
    monkeypatch.setitem(sys.modules, "pyspark.ml", None)
    with job_group("pca-build") as jobs:
        ml.ml_pca_embeddings(spark, sf_dir)
        assert jobs() <= 2


def test_label_encode_alphabetical(spark, sf_dir):
    """R28 parity: codes are 0..k-1 in alphabetical label order."""
    rows = ml.ml_label_encode(spark, sf_dir).select("lang", "lang_code").distinct().collect()
    mapping = {r.lang: r.lang_code for r in rows}
    assert mapping == {la: i for i, la in enumerate(sorted(mapping))}


def test_split_statistics(spark, sf_dir):
    """R31: seeded split is ~80/20 and label-balanced (statistical, not
    row-wise — SURVEY §5.2 item 4)."""
    rows = ml.ml_train_test_split(spark, sf_dir).collect()
    n_train = sum(r.n for r in rows if r.split == "train")
    n_test = sum(r.n for r in rows if r.split == "test")
    frac = n_train / (n_train + n_test)
    assert 0.72 <= frac <= 0.88
    # determinism: same seed, same split
    rows2 = ml.ml_train_test_split(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_mutual_information_nonnegative_and_bounded(spark, sf_dir):
    """MI is ≥ 0 and ≤ ln(min(bins, classes)) by definition."""
    em = load_table(spark, sf_dir, "embeddings")
    n_classes = em.select("label").distinct().count()
    bound = float(np.log(min(ml.MI_BINS, n_classes))) + 1e-9
    for r in ml.ml_mutual_information(spark, sf_dir).collect():
        assert -1e-9 <= r.mi <= bound


def test_confusion_matrix_row_sums(spark, sf_dir):
    """Confusion rows sum to per-class support."""
    cm = ml.ml_confusion_matrix(spark, sf_dir).collect()
    em = load_table(spark, sf_dir, "embeddings")
    support = {r.label: r.n for r in em.groupBy("label").agg(F.count("*").alias("n")).collect()}
    for r in cm:
        assert r.pred_0 + r.pred_1 + r.pred_2 == support[r.label]


def test_report_f1_consistency(spark, sf_dir):
    """f1 == harmonic mean of reported precision/recall."""
    for r in ml.ml_classification_report(spark, sf_dir).collect():
        if r.precision and r.recall and (r.precision + r.recall) > 0:
            f1 = 2 * r.precision * r.recall / (r.precision + r.recall)
            assert abs(f1 - r.f1) < 1e-4


def test_text_mllib_pipeline_invariants(spark, sf_dir):
    from big_data_audio_classification_spark.operators import text
    import pyspark.sql.functions as F

    out = text.text_mllib_pipeline(spark, sf_dir)
    bad = out.filter(
        (F.col("nnz") > F.col("n_bigrams"))
        | (F.col("n_bigrams") > F.greatest(F.col("n_tokens") - 1, F.lit(0)))
    ).count()
    assert bad == 0
    assert out.count() > 0


def test_stratified_sample_rates(spark, sf_dir):
    """Per-stratum sampled counts within tolerance of fraction·N."""
    import pyspark.sql.functions as F

    from big_data_audio_classification_spark.operators import text
    from big_data_audio_classification_spark.sources.catalog import load_table

    totals = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r.lang: r.n_sampled for r in text.text_stratified_sample(spark, sf_dir).collect()}
    for lang, frac in text.SAMPLE_FRACTIONS.items():
        n = totals.get(lang, 0)
        if n == 0:
            continue
        expect = frac * n
        # Bernoulli sampling: allow 4 sigma
        sigma = (n * frac * (1 - frac)) ** 0.5
        assert abs(got.get(lang, 0) - expect) <= 4 * sigma + 1


def test_kmeans_partition_and_determinism(spark, sf_dir):
    """Seeded KMeans(k=10) must partition all 500 vectors into ≤10
    non-empty clusters with positive spread, and repeat-run identically
    (same seed → same assignment counts). The synthetic embeddings are
    near-isotropic (within-label spread ~7× the between-centroid
    distance), so label purity is NOT an invariant here."""
    from big_data_audio_classification_spark.operators.ml import ml_kmeans_embeddings

    r1 = ml_kmeans_embeddings(spark, sf_dir).collect()
    assert sum(r.n for r in r1) == 500
    assert 1 <= len(r1) <= 10
    assert all(r.n > 0 and r.avg_dist > 0 for r in r1)
    r2 = ml_kmeans_embeddings(spark, sf_dir).collect()
    assert [(r.prediction, r.n) for r in r1] == [(r.prediction, r.n) for r in r2]


def test_kfold_cv_partitions_and_matches_direct_fit(spark, sf_dir):
    """Folds partition the data (n_train + n_test == N for every fold)
    and the complement-sufficient-statistics slope/intercept must equal
    a DIRECT regr_slope/regr_intercept fit on the filtered train split
    — the single-pass trick changes the plan, never the math."""
    from big_data_audio_classification_spark.operators import ml as ml_ops
    from big_data_audio_classification_spark.sources.catalog import load_table

    rows = ml_ops.ml_kfold_regression_cv(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    assert len(rows) == ml_ops.KFOLDS
    assert sorted(r["fold"] for r in rows) == list(range(ml_ops.KFOLDS))
    for r in rows:
        assert r["n_train"] + r["n_test"] == n
        assert r["test_rmse"] > 0
    for fold in (0, ml_ops.KFOLDS - 1):
        direct = (
            li.filter(F.col("l_orderkey") % ml_ops.KFOLDS != fold)
            .agg(
                F.regr_slope("l_extendedprice", "l_quantity").alias("b1"),
                F.regr_intercept("l_extendedprice", "l_quantity").alias("b0"),
            )
            .collect()[0]
        )
        got = next(r for r in rows if r["fold"] == fold)
        assert abs(got["slope"] - direct["b1"]) < 1e-4 * max(1, abs(direct["b1"]))
        assert abs(got["intercept"] - direct["b0"]) < 1e-4 * max(
            1, abs(direct["b0"])
        )


def test_calibration_bins_are_a_partition_with_bounded_ece(spark, sf_dir):
    from big_data_audio_classification_spark.operators import ml as ml_ops
    from big_data_audio_classification_spark.sources.catalog import load_table

    rows = ml_ops.ml_calibration_bins(spark, sf_dir).collect()
    n_customers = load_table(spark, sf_dir, "customer").count()
    assert sum(r["n"] for r in rows) == n_customers
    ece = sum(r["ece_term"] for r in rows)
    assert 0.0 <= ece <= 1.0
    for r in rows:
        assert 0 <= r["bin"] < ml_ops.CALIB_BINS
        assert 0.0 <= r["mean_score"] <= 1.0
        assert 0.0 <= r["pos_rate"] <= 1.0
        assert abs(r["calib_gap"] - abs(r["pos_rate"] - r["mean_score"])) < 2e-6


def test_roc_auc_matches_brute_force_pair_count(spark, sf_dir):
    """AUC must equal P(random positive outranks random negative) with
    ties counted half — the defining pairwise probability, computed
    brute-force in numpy."""
    from big_data_audio_classification_spark.operators import ml as ml_ops
    from big_data_audio_classification_spark.sources.catalog import load_table

    got = ml_ops.ml_roc_auc(spark, sf_dir).collect()[0]
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rows = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.max(
                (F.col("o_orderpriority") == "1-URGENT").cast("int")
            ).alias("lab")
        )
        .collect()
    )
    import numpy as np

    score = 1.0 / (1.0 + np.exp(-np.array([r["c_acctbal"] for r in rows]) / ml_ops.CALIB_SCALE))
    lab = np.array([r["lab"] or 0 for r in rows])
    pos, neg = score[lab == 1], score[lab == 0]
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    auc_bf = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert abs(got["auc"] - auc_bf) < 1e-6
    assert abs(got["gini_coefficient"] - (2 * auc_bf - 1)) < 2e-6


def test_als_beats_mean_baseline_and_covers_users(spark, sf_dir):
    """ALS invariants (values are engine-internal): every user gets
    exactly k recommendations with finite scores, and the model's
    train-set RMSE beats the global-mean baseline."""
    import math

    import pyspark.sql.functions as F
    from pyspark.ml.recommendation import ALS

    from big_data_audio_classification_spark.operators.ml import (
        ALS_ITEMS,
        ALS_TOPK,
        ml_als_recommend,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    [gate] = ml_als_recommend(spark, sf_dir).collect()
    assert gate["k"] == ALS_TOPK
    assert gate["n_users"] > 0
    assert gate["every_user_has_k"]
    assert gate["beats_mean_baseline"]

    o = load_table(spark, sf_dir, "orders")
    ratings = o.select(
        F.col("o_custkey").cast("int").alias("user"),
        (F.col("o_orderkey") % ALS_ITEMS).cast("int").alias("item"),
        (
            1.0
            + (F.round(F.col("o_totalprice") * 100).cast("bigint") % 400) / 100.0
        ).alias("rating"),
    )
    model = ALS(
        rank=8, maxIter=8, regParam=0.1, seed=42,
        userCol="user", itemCol="item", ratingCol="rating",
        coldStartStrategy="drop",
    ).fit(ratings)
    pred = model.transform(ratings)
    rmse_model = math.sqrt(
        pred.select(F.avg((F.col("prediction") - F.col("rating")) ** 2)).first()[0]
    )
    mu = ratings.select(F.avg("rating")).first()[0]
    rmse_base = math.sqrt(
        ratings.select(F.avg((F.lit(mu) - F.col("rating")) ** 2)).first()[0]
    )
    assert rmse_model < rmse_base


def test_gmm_weights_and_likelihood(spark, sf_dir):
    """GMM invariants: cluster sizes cover the table, weights form a
    distribution, responsibilities are in (1/k, 1], and the k-component
    log-likelihood beats a single Gaussian fit on the same features."""
    import pyspark.sql.functions as F
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.functions import array_to_vector

    from big_data_audio_classification_spark.operators.ml import (
        GMM_K,
        ml_gmm_clusters,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    [gate] = ml_gmm_clusters(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    assert gate["n_points"] == n
    assert gate["k"] == GMM_K
    assert gate["weights_sum_ok"]
    assert gate["all_clusters_used"]
    assert gate["min_weight_ok"]
    assert gate["responsibilities_proper"]

    feats = e.select(
        array_to_vector(
            F.slice(F.col("embedding").cast("array<double>"), 1, 4)
        ).alias("features")
    )
    m_k = GaussianMixture(k=GMM_K, maxIter=30, seed=42).fit(feats)
    # single-Gaussian baseline log-likelihood computed exactly (MLlib
    # requires k >= 2, so the k=1 MLE is done in closed form)
    import numpy as np

    X = np.array(
        [r["features"].toArray() for r in feats.collect()]
    )
    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, bias=True)
    d = X.shape[1]
    inv, det = np.linalg.inv(cov), np.linalg.det(cov)
    c = X - mu
    ll_1 = float(
        -0.5 * (np.einsum("ij,jk,ik->i", c, inv, c)).sum()
        - 0.5 * len(X) * (d * np.log(2 * np.pi) + np.log(det))
    )
    assert m_k.summary.logLikelihood > ll_1, (
        m_k.summary.logLikelihood,
        ll_1,
    )


def test_stratified_split_exact_quotas(spark, sf_dir):
    """Every stratum's train cell holds EXACTLY floor(0.8*n) rows and
    the two cells partition the stratum (sum of ids conserved)."""
    import math

    from big_data_audio_classification_spark.operators.ml import ml_stratified_split

    rows = ml_stratified_split(spark, sf_dir).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, {})[r.split] = r
    em = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    truth = {
        r.label: (r.n, r.s)
        for r in em.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("s"))
        .collect()
    }
    assert set(by_label) == set(truth)
    for label, cells in by_label.items():
        n, s = truth[label]
        tr = cells.get("train")
        te = cells.get("test")
        n_tr = tr.n_rows if tr else 0
        n_te = te.n_rows if te else 0
        assert n_tr == math.floor(0.8 * n)
        assert n_tr + n_te == n
        assert (tr.sum_vec_id if tr else 0) + (te.sum_vec_id if te else 0) == s


def test_target_encoding_matches_pandas_replay(spark, sf_dir):
    """Out-of-fold smoothed target encoding must match an independent
    pandas replay cell-for-cell (exact integer-cent arithmetic)."""
    import pandas as pd

    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_orderpriority", "o_totalprice"]
    ]
    pdf["fold"] = pdf["o_orderkey"] % ml._TE_FOLDS
    pdf["cents"] = (pdf["o_totalprice"] * 100).round().astype("int64")
    g_mean = pdf["cents"].sum() / len(pdf)
    cf = (
        pdf.groupby(["o_orderpriority", "fold"])["cents"]
        .agg(["sum", "count"])
        .reset_index()
    )
    c = cf.groupby("o_orderpriority")[["sum", "count"]].sum().reset_index()
    m = cf.merge(c, on="o_orderpriority", suffixes=("_cf", "_c"))
    m["encoded"] = (
        (m["sum_c"] - m["sum_cf"]) + ml._TE_SMOOTH * g_mean
    ) / ((m["count_c"] - m["count_cf"] + ml._TE_SMOOTH) * 100.0)
    expected = {
        (r.o_orderpriority, r.fold): round(r.encoded, 6)
        for r in m.itertuples()
    }

    got = ml.ml_target_encoding_oof(spark, sf_dir).collect()
    assert len(got) == len(expected)
    for r in got:
        assert expected[(r.category, r.fold)] == r.encoded
        assert r.oof_n > 0


def test_lift_gains_table_invariants(spark, sf_dir):
    """Gains-table laws: deciles partition the population, cumulative
    capture is monotone ending at 1.0, and Σ(pos) lifts average to 1."""
    from big_data_audio_classification_spark.operators.ml import (
        _LIFT_DECILES,
        ml_lift_gains_table,
    )

    rows = ml_lift_gains_table(spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, _LIFT_DECILES + 1))
    em_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r.n for r in rows) == em_n
    caps = [r.cum_capture for r in rows]
    assert caps == sorted(caps)
    assert abs(caps[-1] - 1.0) < 1e-9
    for r in rows:
        assert abs(r.resp_rate * r.n - r.pos) < 0.5 + 1e-4 * r.n


def test_zone_map_skipping_consistency(spark, sf_dir):
    """Zone classification must reconcile with a direct scan: rows in
    'skipped' partitions contain NO predicate matches."""
    from big_data_audio_classification_spark.operators.warehouse import (
        _ZM_THRESHOLD_CENTS,
        warehouse_zone_map_skipping,
    )

    row = warehouse_zone_map_skipping(spark, sf_dir).collect()[0]
    assert row.n_partitions == row.n_skipped + row.n_full_match + row.n_partial
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    import pyspark.sql.functions as F

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_day = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.max(cents).alias("hi"), F.count(F.lit(1)).alias("n")
    )
    skipped = per_day.where(F.col("hi") <= _ZM_THRESHOLD_CENTS)
    assert skipped.count() == row.n_skipped
    assert (skipped.agg(F.sum("n")).first()[0] or 0) == row.rows_skipped


def test_logistic_irls_step_matches_numpy_solve(spark, sf_dir):
    """The one-step Newton coefficients must equal a numpy
    linalg.solve over the same design matrix."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.ml_closed_form import (
        IRLS_PRICE_SCALE,
        ml_logistic_irls_step,
    )

    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    y = (pdf["o_orderstatus"] == "F").to_numpy(dtype=float)
    x1 = (pdf["o_totalprice"] * 100).round().to_numpy() * IRLS_PRICE_SCALE
    x2 = (pd.to_datetime(pdf["o_orderdate"]).dt.year - 1995).to_numpy(dtype=float)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta = 4 * np.linalg.solve(X.T @ X, X.T @ (y - 0.5))
    r = ml_logistic_irls_step(spark, sf_dir).collect()[0]
    assert r.n == len(pdf)
    assert r.n_pos == int(y.sum())
    assert abs(r.beta0 - beta[0]) < 1e-4
    assert abs(r.beta_price - beta[1]) < 1e-4
    assert abs(r.beta_year - beta[2]) < 1e-4


def test_gbt_residual_rounds_matches_numpy_replay(spark, sf_dir):
    """Both boosting rounds must pick the same (feature, threshold,
    leaves) as a brute-force numpy scan over every candidate split."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.ml_closed_form import (
        GBT_LR,
        ml_gbt_residual_rounds,
    )

    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    yv = (pdf["l_extendedprice"] * 100).round().to_numpy(dtype=float)
    feats = {
        "qty": pdf["l_quantity"].astype("int64").to_numpy(),
        "disc": (pdf["l_discount"] * 100).round().astype("int64").to_numpy(),
    }

    def best_stump(resid):
        best = None
        for fname in ("disc", "qty"):  # asc name order mirrors the tiebreak
            fv = feats[fname]
            for t in np.unique(fv)[:-1]:
                m = fv <= t
                gl, gr = resid[m], resid[~m]
                gain = gl.sum() ** 2 / len(gl) + gr.sum() ** 2 / len(gr)
                key = (gain, )
                if best is None or gain > best[0] + 1e-9:
                    best = (gain, fname, int(t), gl.mean(), gr.mean(), m)
        return best

    r0 = yv - yv.mean()
    g1, f1, t1, vl1, vr1, m1 = best_stump(r0)
    pred1 = np.where(m1, vl1, vr1)
    g2, f2, t2, vl2, vr2, _ = best_stump(r0 - GBT_LR * pred1)

    rows = {r.rnd: r for r in ml_gbt_residual_rounds(spark, sf_dir).collect()}
    assert (rows[1].feature, rows[1].split_bin) == (f1, t1)
    assert abs(rows[1].leaf_left - vl1 / 100) < 1e-3
    assert abs(rows[1].leaf_right - vr1 / 100) < 1e-3
    assert (rows[2].feature, rows[2].split_bin) == (f2, t2)
    assert abs(rows[2].leaf_left - vl2 / 100) < 1e-3
    assert abs(rows[2].leaf_right - vr2 / 100) < 1e-3
    assert rows[1].n_left == int(m1.sum())


def test_ridge_path_matches_numpy_and_shrinks(spark, sf_dir):
    """λ=0 must equal the OLS solve; every λ must match the numpy
    standardized ridge solve; coefficient norm must shrink in λ."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.ml_closed_form import (
        RIDGE_LAMBDAS,
        ml_ridge_path,
    )

    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    X = pdf[["l_quantity", "l_discount"]].to_numpy(dtype=float)
    y = pdf["l_extendedprice"].to_numpy(dtype=float)
    Xs = (X - X.mean(0)) / X.std(0)
    ys = (y - y.mean()) / y.std()
    R = (Xs.T @ Xs) / len(y)
    ry = (Xs.T @ ys) / len(y)

    rows = {r.lam: r for r in ml_ridge_path(spark, sf_dir).collect()}
    assert set(rows) == set(RIDGE_LAMBDAS)
    for lam in RIDGE_LAMBDAS:
        bs = np.linalg.solve(R + lam * np.eye(2), ry)
        beta = bs * y.std() / X.std(0)
        assert abs(rows[lam].beta_qty - beta[0]) < 1e-3
        assert abs(rows[lam].beta_disc - beta[1]) < 1e-1  # large raw scale
        assert abs(rows[lam].coef_l2 - np.hypot(*bs)) < 1e-5
    norms = [rows[lam].coef_l2 for lam in sorted(RIDGE_LAMBDAS)]
    assert norms == sorted(norms, reverse=True)


def test_scaling_curve_matches_numpy_fits(spark, sf_dir):
    """Each fraction's slope/intercept/R²/holdout-MSE must equal a
    numpy lstsq fit on the same nested subsets."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.ml_closed_form import (
        LC_BUCKETS,
        ml_scaling_curve,
    )

    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    b = (pdf["l_orderkey"] % LC_BUCKETS).to_numpy()
    x = pdf["l_quantity"].to_numpy(dtype=float)
    y = pdf["l_extendedprice"].to_numpy(dtype=float)
    hold = b == LC_BUCKETS - 1

    rows = {r.train_buckets: r for r in ml_scaling_curve(spark, sf_dir).collect()}
    assert set(rows) == {1, 3, 5, LC_BUCKETS - 1}
    for k, r in rows.items():
        m = b < k
        A = np.column_stack([np.ones(m.sum()), x[m]])
        beta, *_ = np.linalg.lstsq(A, y[m], rcond=None)
        assert r.n_train == int(m.sum())
        assert abs(r.slope - beta[1]) < 1e-2
        assert abs(r.intercept - beta[0]) < 1.0
        pred = beta[0] + beta[1] * x[hold]
        mse = ((y[hold] - pred) ** 2).mean()
        assert abs(r.test_mse - mse) / mse < 1e-4
        corr = np.corrcoef(x[m], y[m])[0, 1]
        assert abs(r.train_r2 - corr**2) < 1e-4


def test_drop_column_importance_matches_numpy(spark, sf_dir):
    """ΔR² and partial correlations must match numpy fits, and the two
    importances must order the same as mutual predictive power."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.ml_closed_form import (
        ml_drop_column_importance,
    )

    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    X = pdf[["l_quantity", "l_discount"]].to_numpy(dtype=float)
    y = pdf["l_extendedprice"].to_numpy(dtype=float)

    def r2_of(cols):
        A = np.column_stack([np.ones(len(y))] + [X[:, c] for c in cols])
        beta, *_ = np.linalg.lstsq(A, y, rcond=None)
        resid = y - A @ beta
        return 1 - resid.var() / y.var()

    r2_full = r2_of([0, 1])
    rows = {r.feature: r for r in ml_drop_column_importance(spark, sf_dir).collect()}
    assert abs(rows["quantity"].r2_full - r2_full) < 1e-5
    assert abs(rows["quantity"].r2_without - r2_of([1])) < 1e-5
    assert abs(rows["discount"].r2_without - r2_of([0])) < 1e-5
    for r in rows.values():
        assert abs(r.delta_r2 - (r.r2_full - r.r2_without)) < 1e-5
        assert r.delta_r2 >= -1e-9  # adding a feature never hurts R²
        assert -1 <= r.partial_corr <= 1


def test_pr_auc_matches_numpy_binned_ap(spark, sf_dir):
    """AP must equal a numpy replay of the binned PR curve and beat the
    prevalence baseline for a correlated score."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.ml import (
        CALIB_SCALE,
        PR_AUC_BINS,
        ml_pr_auc,
    )

    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    urgent = set(o.loc[o["o_orderpriority"] == "1-URGENT", "o_custkey"])
    label = c["c_custkey"].isin(urgent).to_numpy(dtype=float)
    score = 1.0 / (1.0 + np.exp(-c["c_acctbal"].to_numpy() / CALIB_SCALE))
    tb = np.floor(score * PR_AUC_BINS).astype(int)

    df = pd.DataFrame({"tb": tb, "y": label}).groupby("tb").agg(
        d1=("y", "sum"), t=("y", "size")
    ).sort_index(ascending=False)
    cum_tp = df["d1"].cumsum()
    cum_n = df["t"].cumsum()
    n1 = df["d1"].sum()
    ap = float(((df["d1"] / n1) * (cum_tp / cum_n)).sum())

    r = ml_pr_auc(spark, sf_dir).collect()[0]
    assert r.n_pos == int(n1)
    assert r.n_pos + r.n_neg == len(c)
    assert abs(r.average_precision - ap) < 1e-6
    assert abs(r.prevalence - n1 / len(c)) < 1e-6


def test_bias_variance_matches_trained_numpy_ensemble(spark, sf_dir):
    """The algebraic decomposition must equal literally training 9
    numpy models and scoring the holdout, and the identity
    E[single-model MSE] = mean-model MSE + variance must hold."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.ml_closed_form import (
        LC_BUCKETS,
        ml_bias_variance,
    )

    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    b = (pdf["l_orderkey"] % LC_BUCKETS).to_numpy()
    x = pdf["l_quantity"].to_numpy(dtype=float)
    y = pdf["l_extendedprice"].to_numpy(dtype=float)
    hold = b == LC_BUCKETS - 1

    coefs = []
    for k in range(LC_BUCKETS - 1):
        m = b == k
        A = np.column_stack([np.ones(m.sum()), x[m]])
        beta, *_ = np.linalg.lstsq(A, y[m], rcond=None)
        coefs.append(beta)
    preds = np.stack([a + s * x[hold] for a, s in coefs])  # (9, n_hold)
    variance = preds.var(axis=0, ddof=0).mean()
    mean_pred = preds.mean(axis=0)
    mse_mean = ((y[hold] - mean_pred) ** 2).mean()
    mse_single = ((y[hold] - preds) ** 2).mean()

    r = ml_bias_variance(spark, sf_dir).collect()[0]
    assert r.n_models == LC_BUCKETS - 1
    assert abs(r.avg_variance - variance) / variance < 1e-4
    assert abs(r.mean_model_mse - mse_mean) / mse_mean < 1e-4
    assert abs(r.expected_single_model_mse - mse_single) / mse_single < 1e-4
    assert abs(
        r.expected_single_model_mse - (r.mean_model_mse + r.avg_variance)
    ) < 0.02
