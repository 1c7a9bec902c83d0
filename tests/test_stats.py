"""Invariant + plan-shape tests for the extended statistics battery
(operators/stats.py) and the LM-quality/mix operators
(operators/lm_quality.py). Value correctness is the DuckDB oracle's
job; these tests pin the semantic invariants and the 100 TB plan
shapes."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F

from big_data_audio_classification_spark.operators import lm_quality, stats
from big_data_audio_classification_spark.plans import introspect


def test_skewness_kurtosis_are_population_moments(spark, sf_dir):
    rows = stats.agg_distribution_shape(spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    by_flag = {
        r["l_returnflag"]: np.array(
            [x["l_extendedprice"] for x in li.filter(
                li.l_returnflag == r["l_returnflag"]
            ).select("l_extendedprice").collect()]
        )
        for r in rows
    }
    for r in rows:
        x = by_flag[r["l_returnflag"]]
        mu, m2 = x.mean(), x.var()  # numpy var is the population moment
        skew = ((x - mu) ** 3).mean() / m2**1.5
        kurt = ((x - mu) ** 4).mean() / m2**2 - 3
        assert math.isclose(r["skew_pop"], round(skew, 6), abs_tol=2e-6)
        assert math.isclose(r["kurt_pop"], round(kurt, 6), abs_tol=2e-6)


def test_regression_matches_numpy_lstsq(spark, sf_dir):
    rows = stats.agg_regression_by_flag(spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for r in rows:
        pts = li.filter(li.l_returnflag == r["l_returnflag"]).select(
            "l_quantity", "l_extendedprice"
        ).collect()
        x = np.array([p["l_quantity"] for p in pts])
        y = np.array([p["l_extendedprice"] for p in pts])
        slope, intercept = np.polyfit(x, y, 1)
        assert math.isclose(r["slope"], slope, rel_tol=1e-6)
        assert math.isclose(r["intercept"], intercept, rel_tol=1e-6)
        assert r["n"] == len(pts)


def test_maxby_is_deterministic_on_unique_key(spark, sf_dir):
    a = {r["o_orderstatus"]: r for r in stats.agg_maxby_minby(spark, sf_dir).collect()}
    b = {r["o_orderstatus"]: r for r in stats.agg_maxby_minby(spark, sf_dir).collect()}
    assert a == b
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for status, r in a.items():
        top = (
            o.filter(o.o_orderstatus == status)
            .orderBy(o.o_orderkey.desc())
            .select("o_custkey")
            .first()
        )
        assert r["latest_key_cust"] == top["o_custkey"]


def test_unigram_logprob_invariants(spark, sf_dir):
    df = lm_quality.text_unigram_logprob(spark, sf_dir)
    rows = df.collect()
    # log-probabilities are strictly negative (no token covers the whole
    # corpus) and finite; every non-empty document is scored.
    assert all(r["avg_logprob"] < 0 for r in rows)
    assert all(math.isfinite(r["avg_logprob"]) for r in rows)
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("length(trim(text)) > 0")
        .count()
    )
    assert len(rows) == n_docs
    # scale shape: the vocab probe side is broadcast — the per-token
    # join must not shuffle the exploded corpus twice.
    assert introspect.uses_broadcast_join(df)


def test_mix_weights_normalize(spark, sf_dir):
    rows = lm_quality.curation_source_mix_weights(spark, sf_dir).collect()
    total_w = sum(r["mix_weight"] for r in rows)
    assert math.isclose(total_w, 1.0, abs_tol=1e-4)
    # alpha=0.5 upweights small sources: every source's epochs
    # multiplier is >= the proportional value 1.0 iff it is smaller
    # than average — verify the ordering is monotone in token count.
    by_count = sorted(rows, key=lambda r: r["tok_count"])
    mults = [r["epochs_multiplier"] for r in by_count]
    assert mults == sorted(mults, reverse=True)


def test_quality_classifier_learns_weak_labels(spark, sf_dir):
    """The distilled classifier must (a) be deterministic and (b)
    actually learn the heuristic from bag-of-words — corpus-level
    agreement with its own training labels well above chance."""
    from big_data_audio_classification_spark.operators import lm_quality

    rows = {r["source"]: r for r in
            lm_quality.curation_quality_classifier(spark, sf_dir).collect()}
    again = {r["source"]: r for r in
             lm_quality.curation_quality_classifier(spark, sf_dir).collect()}
    assert rows == again
    assert all(r["agreement_floor_ok"] for r in rows.values())
    assert all(0.0 <= r["weak_positive_rate"] <= 1.0 for r in rows.values())
    assert sum(r["n_docs"] for r in rows.values()) > 0


def test_psi_drift_measure_bounds(spark, sf_dir):
    """PSI >= 0 (it is a symmetrized KL), JSD in [0,1] bits, TV in
    [0,1], and the two period counts cover every event of the type."""
    from big_data_audio_classification_spark.operators import stats
    from big_data_audio_classification_spark.sources.catalog import load_table

    rows = stats.stats_psi_drift(spark, sf_dir).collect()
    totals = {
        r["event_type"]: r["count"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert len(rows) == len(totals)
    for r in rows:
        assert r["psi"] >= -1e-9
        assert -1e-9 <= r["jsd"] <= 1.0 + 1e-9
        assert -1e-9 <= r["tv_dist"] <= 1.0 + 1e-9
        assert r["n_base"] + r["n_curr"] == totals[r["event_type"]]
        assert r["drift_flag"] == (r["psi"] > 0.1 or abs(r["psi"] - 0.1) < 2e-6)


def test_ewma_matches_reference_recursion(spark, sf_dir):
    """The Horner-fold EWMA must equal the plain sequential recursion
    (truncated to the 64-row FIR window, n-mass normalized) computed
    independently in Python for every user."""
    from big_data_audio_classification_spark.operators import analytics
    from big_data_audio_classification_spark.sources.catalog import load_table

    got = {
        r["user_id"]: r
        for r in analytics.events_ewma_deviation(spark, sf_dir).collect()
    }
    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in events:
        by_user.setdefault(r["user_id"], []).append(r)
    L, a = analytics.EWMA_LOOKBACK, analytics.EWMA_ALPHA
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        vals = [r["value"] for r in rs]
        ewmas = []
        for j in range(len(vals)):
            win = vals[max(0, j - L + 1) : j + 1]
            acc = 0.0
            for v in win:
                acc = (1 - a) * acc + v
            ewmas.append(a * acc / (1 - (1 - a) ** len(win)))
        assert got[uid]["n_events"] == len(vals)
        assert abs(got[uid]["ewma_final"] - ewmas[-1]) < 1e-5
        assert (
            abs(got[uid]["ewma_mean"] - sum(ewmas) / len(ewmas)) < 1e-5
        )


def test_bigram_logprob_is_negative_and_consistent(spark, sf_dir):
    """Smoothed bigram probabilities are < 1 so mean log2 p < 0, and
    perplexity must be exactly 2^(-avg_log2p) (up to output rounding)."""
    from big_data_audio_classification_spark.operators import lm_quality

    rows = lm_quality.text_bigram_logprob(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["avg_log2p"] < 0
        assert abs(r["perplexity"] - 2 ** (-r["avg_log2p"])) < max(
            1e-3, r["perplexity"] * 1e-4
        )
        assert r["n_bigrams"] >= 1


def test_welch_and_mwu_match_reference_formulas(spark, sf_dir):
    """Welch t/df and tie-corrected Mann-Whitney U/z must equal an
    independent numpy/pure-Python computation on the same rows."""
    from big_data_audio_classification_spark.operators import stats
    from big_data_audio_classification_spark.sources.catalog import load_table

    g1, g2 = stats.KS_GROUPS
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(g1, g2))
        .select("event_type", "value")
        .collect()
    )
    a = np.array([r["value"] for r in rows if r["event_type"] == g1])
    b = np.array([r["value"] for r in rows if r["event_type"] == g2])

    w = stats.stats_welch_ttest(spark, sf_dir).collect()[0]
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / len(a) + v2 / len(b)
    t_exp = (a.mean() - b.mean()) / se2**0.5
    df_exp = se2**2 / (
        (v1 / len(a)) ** 2 / (len(a) - 1) + (v2 / len(b)) ** 2 / (len(b) - 1)
    )
    assert w["n1"] == len(a) and w["n2"] == len(b)
    assert abs(w["t_stat"] - t_exp) < 1e-5
    assert abs(w["df"] - df_exp) < 1e-2

    m = stats.stats_mann_whitney_u(spark, sf_dir).collect()[0]
    pooled = np.concatenate([a, b])
    order = np.argsort(pooled, kind="mergesort")
    ranks = np.empty(len(pooled))
    sorted_v = pooled[order]
    i = 0
    while i < len(sorted_v):
        j = i
        while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # midrank, 1-based
        i = j
    r1 = ranks[: len(a)].sum()
    u1_exp = len(a) * len(b) + len(a) * (len(a) + 1) / 2.0 - r1
    assert abs(m["u1"] - u1_exp) < 0.51
    assert -1.0 <= m["rank_biserial"] <= 1.0


def test_mwu_has_no_unpartitioned_window(spark, sf_dir):
    from big_data_audio_classification_spark.operators import stats

    df = stats.stats_mann_whitney_u(spark, sf_dir)
    assert introspect.unpartitioned_windows(df) == []


def test_gini_matches_direct_formula_and_bounds(spark, sf_dir):
    from big_data_audio_classification_spark.operators import stats
    from big_data_audio_classification_spark.sources.catalog import load_table

    got = {r["seg"]: r for r in
           stats.stats_gini_concentration(spark, sf_dir).collect()}
    rev = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
        .collect()
    )
    by_seg: dict[str, list[float]] = {}
    for r in rev:
        by_seg.setdefault(r["c_mktsegment"], []).append(r["x"])
    for seg, xs in by_seg.items():
        xs.sort()
        n, s = len(xs), sum(xs)
        g_exp = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * s) - (
            n + 1
        ) / n
        assert abs(got[seg]["gini"] - g_exp) < 1e-5
        assert 0.0 <= got[seg]["gini"] < 1.0
        assert got[seg]["n_customers"] == n


def test_attribution_partitions_all_purchases(spark, sf_dir):
    from big_data_audio_classification_spark.operators import analytics
    from big_data_audio_classification_spark.sources.catalog import load_table

    rows = analytics.events_attribution_last_touch(spark, sf_dir).collect()
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r["n_purchases"] for r in rows) == n_purchases
    kinds = {r["attributed_to"] for r in rows}
    assert kinds <= set(analytics.ATTR_TOUCHES) | {"none"}
    for r in rows:
        if r["attributed_to"] != "none":
            assert r["avg_mins_to_convert"] is not None
            assert 0 <= r["avg_mins_to_convert"] <= analytics.ATTR_WINDOW_MIN


def test_effect_sizes_match_numpy(spark, sf_dir):
    from big_data_audio_classification_spark.operators import stats
    from big_data_audio_classification_spark.sources.catalog import load_table

    g1, g2 = stats.KS_GROUPS
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(g1, g2))
        .select("event_type", "value")
        .collect()
    )
    a = np.array([r["value"] for r in rows if r["event_type"] == g1])
    b = np.array([r["value"] for r in rows if r["event_type"] == g2])
    got = stats.stats_effect_sizes(spark, sf_dir).collect()[0]
    pooled = (
        ((len(a) - 1) * a.var(ddof=1) + (len(b) - 1) * b.var(ddof=1))
        / (len(a) + len(b) - 2)
    ) ** 0.5
    d = (a.mean() - b.mean()) / pooled
    assert abs(got["cohens_d"] - d) < 1e-5
    assert abs(got["hedges_g"]) <= abs(got["cohens_d"])  # shrinkage
    assert -1.0 <= got["point_biserial"] <= 1.0


def test_spearman_matches_scipy_free_replay(spark, sf_dir):
    """Direct replay: tie-averaged ranks via numpy argsort averaging,
    Pearson on ranks (this generator's quantity and price are close to
    independent, so the value check is agreement, not sign)."""
    import numpy as np

    from big_data_audio_classification_spark.operators.stats import (
        stats_spearman_corr,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    out = stats_spearman_corr(spark, sf_dir).collect()[0]
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_extendedprice")
        .toPandas()
    )
    x = pdf["l_quantity"].to_numpy()
    y = pdf["l_extendedprice"].to_numpy()

    def avg_ranks(v):
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v))
        sv = v[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0
            i = j
        return ranks

    rho = np.corrcoef(avg_ranks(x), avg_ranks(y))[0, 1]
    r = np.corrcoef(x, y)[0, 1]
    assert out["n"] == len(x)
    assert abs(out["spearman_rho"] - rho) < 1e-5
    assert abs(out["pearson_r"] - r) < 1e-5
    assert -1.0 <= out["spearman_rho"] <= 1.0


def test_bucketed_avg_ranks_partition_identity(spark, sf_dir):
    """Rank-sum identity: Σ (avg_rank · multiplicity) over distinct
    values must equal n(n+1)/2 exactly, and ranks must be strictly
    increasing with the value."""
    import pyspark.sql.functions as F

    from big_data_audio_classification_spark.operators.stats import (
        _bucketed_avg_ranks,
    )
    from big_data_audio_classification_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("y")
    )
    n = li.count()
    ranks = _bucketed_avg_ranks(li, "y", "r")
    joined = (
        li.groupBy("y").count().join(ranks, "y").orderBy("y").collect()
    )
    total = sum(row["r"] * row["count"] for row in joined)
    assert total == n * (n + 1) / 2
    rs = [row["r"] for row in joined]
    assert all(b > a for a, b in zip(rs, rs[1:]))


def test_hodges_lehmann_matches_numpy_walsh_replay(spark, sf_dir):
    """HL must equal the numpy median of all Walsh averages and sit
    between min and max daily revenue."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.stats import (
        stats_hodges_lehmann,
    )

    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = (pdf["o_totalprice"] * 100).round().astype("int64")
    daily = cents.groupby(
        pd.to_datetime(pdf["o_orderdate"]).dt.normalize()
    ).sum().to_numpy()
    n = len(daily)
    walsh = (daily[:, None] + daily[None, :])[np.triu_indices(n)] / 2.0
    hl = np.median(walsh) / 100.0

    r = stats_hodges_lehmann(spark, sf_dir).collect()[0]
    assert r.n_days == n
    assert r.n_pairs == n * (n + 1) // 2
    assert abs(r.hl_estimate - hl) < 1e-6
    assert daily.min() / 100.0 <= r.hl_estimate <= daily.max() / 100.0


def test_wilcoxon_signed_rank_matches_numpy_replay(spark, sf_dir):
    """W+, sigma, and z must equal a numpy tie-averaged-rank replay."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.stats import (
        stats_wilcoxon_signed_rank,
    )

    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cents = (pdf["o_totalprice"] * 100).round().astype("int64")
    day = pd.to_datetime(pdf["o_orderdate"]).dt.normalize()
    even = cents.where(pdf["o_custkey"] % 2 == 0, 0).groupby(day).sum()
    odd = cents.where(pdf["o_custkey"] % 2 == 1, 0).groupby(day).sum()
    d = (even - odd).to_numpy()
    d = d[d != 0]
    av = np.abs(d)
    order = np.sort(av)
    # tie-averaged ranks
    ranks = pd.Series(av).rank(method="average").to_numpy()
    w_plus = ranks[d > 0].sum()
    n = len(d)
    mu = n * (n + 1) / 4
    _, t = np.unique(av, return_counts=True)
    sigma = np.sqrt(n * (n + 1) * (2 * n + 1) / 24 - ((t**3 - t).sum()) / 48)
    z = (w_plus - mu - 0.5 * np.sign(w_plus - mu)) / sigma if w_plus != mu else 0.0

    r = stats_wilcoxon_signed_rank(spark, sf_dir).collect()[0]
    assert r.n_pairs == n
    assert abs(r.w_plus - w_plus) < 1e-6
    assert abs(r.sigma - sigma) < 1e-3
    assert abs(r.z - z) < 1e-3


def test_overdispersion_matches_numpy_moments(spark, sf_dir):
    """Dispersion index and z must equal numpy sample moments."""
    import numpy as np
    import pandas as pd

    from big_data_audio_classification_spark.operators.stats import (
        stats_overdispersion,
    )

    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet")
    k = pdf.groupby("o_custkey").size().to_numpy(dtype=float)
    n = len(k)
    disp = k.var(ddof=1) / k.mean()
    z = (disp * (n - 1) - (n - 1)) / np.sqrt(2 * (n - 1))

    r = stats_overdispersion(spark, sf_dir).collect()[0]
    assert r.n == n
    assert abs(r.mean_k - k.mean()) < 1e-5
    assert abs(r.dispersion - disp) < 1e-5
    assert abs(r.z - z) < 1e-3
    assert r.overdispersed == (abs(z) > 1.959963985)
