"""Experimentation & survival analytics: Kaplan-Meier product-limit
curves, the two-proportion A/B z-test, Benjamini-Hochberg FDR
control, and cross-source quantile normalization.

Rounds out the hypothesis-testing family (Welch t, Mann-Whitney U,
chi², KS, effect sizes — stats.py) with the two remaining staples of a
product-analytics stack: "how long do customers survive" and "did the
B arm convert better". Both are single-aggregation-pass constructions
the DuckDB gate can verify value-for-value.

Scale notes:
* Kaplan-Meier: customers collapse to one (duration, event) row each
  (one groupBy over orders), then d_i / at-risk n_i / the running
  product all come from windows PARTITIONED BY segment over the
  distinct-duration AGGREGATE (bounded by the calendar span). The
  product-limit Π(1 − d/n) is evaluated as exp(Σ ln(1 − d/n)) — a
  running-sum window, numerically stable, no multiplication chain.
* A/B z-test: one aggregation over per-user conversion flags; the z
  statistic, pooled variance, and the fixed-critical-value decision
  (±1.96) are pure scalar algebra — no CDF needed, so no erf
  approximation to keep in cross-engine lockstep (same contract as
  stats_welch_ttest's 95% decision).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.constants import Z95_TWO_SIDED
from big_data_audio_classification_spark.functions.ranks import values_at_ranks
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

KM_CENSOR_DAYS = 60  # still-active horizon: last order this close to
# the dataset's max date ⇒ censored (no churn event observed)
KM_MAX_STEPS = 40  # first N event times per segment in the output


@query(
    "stats_kaplan_meier",
    oracle=f"""
        WITH horizon AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
        ),
        subj AS (
            SELECT c.c_mktsegment AS segment,
                   date_diff('day', MIN(CAST(o.o_orderdate AS DATE)),
                             MAX(CAST(o.o_orderdate AS DATE))) AS duration,
                   CASE WHEN date_diff('day',
                                       MAX(CAST(o.o_orderdate AS DATE)),
                                       MAX(h.maxd)) > {KM_CENSOR_DAYS}
                        THEN 1 ELSE 0 END AS event
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            CROSS JOIN horizon h
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        seg AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_subjects
            FROM subj GROUP BY segment
        ),
        steps AS (
            SELECT segment, duration AS t,
                   CAST(SUM(event) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS leaving
            FROM subj GROUP BY segment, duration
        ),
        risk AS (
            SELECT s.segment, s.t, s.d,
                   g.n_subjects
                   - COALESCE(SUM(s.leaving) OVER (
                         PARTITION BY s.segment ORDER BY s.t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS n_risk
            FROM steps s JOIN seg g ON g.segment = s.segment
        ),
        km AS (
            SELECT segment, t, d, n_risk,
                   ROUND(EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / n_risk)) OVER (
                       PARTITION BY segment ORDER BY t
                   )), 6) AS s_km
            FROM risk
            WHERE d > 0
        )
        SELECT segment, CAST(t AS BIGINT) AS t,
               d, CAST(n_risk AS BIGINT) AS n_risk, s_km
        FROM km
        QUALIFY ROW_NUMBER() OVER (PARTITION BY segment ORDER BY t)
                <= {KM_MAX_STEPS}
    """,
    tags=("stats", "survival", "window", "orders", "customer"),
)
def stats_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curves per market segment: subject =
    customer, duration = days between first and last order, churn
    event observed unless the last order is within 60 days of the
    dataset horizon (censored). S(t) = Π_{t_i ≤ t} (1 − d_i/n_i),
    first 40 event times per segment.

    The product-limit runs as exp(Σ ln(1−d/n)) — a segment-partitioned
    running-sum window over the distinct-duration aggregate; at-risk
    counts come from the same aggregate's cumulative exits. Orders
    shuffle once (per-customer collapse); everything after is
    spine-sized."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    maxd = F.broadcast(
        o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    )
    subj = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .crossJoin(maxd)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("duration"),
            F.when(
                F.datediff(
                    F.max("maxd"), F.max(F.col("o_orderdate").cast("date"))
                )
                > KM_CENSOR_DAYS,
                1,
            )
            .otherwise(0)
            .alias("event"),
        )
    )
    seg = subj.groupBy("segment").agg(F.count("*").alias("n_subjects"))
    steps = subj.groupBy("segment", F.col("duration").alias("t")).agg(
        F.sum("event").alias("d"), F.count("*").alias("leaving")
    )
    w_prev = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        steps.join(F.broadcast(seg), "segment")
        .withColumn(
            "n_risk",
            F.col("n_subjects")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
        )
    )
    w_cum = Window.partitionBy("segment").orderBy("t")
    km = (
        risk.where(F.col("d") > 0)
        .withColumn(
            "s_km",
            F.round(
                F.exp(
                    F.sum(
                        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
                    ).over(w_cum)
                ),
                6,
            ),
        )
        .withColumn("rk", F.row_number().over(w_cum))
        .where(F.col("rk") <= KM_MAX_STEPS)
    )
    return km.select(
        "segment",
        F.col("t").cast("bigint").alias("t"),
        "d",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "s_km",
    )


@query(
    "stats_ab_proportion_test",
    oracle="""
        WITH arms AS (
            SELECT event_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS conv
            FROM events GROUP BY event_id % 2
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN arm = 0 THEN n END)    AS n_a,
                MAX(CASE WHEN arm = 0 THEN conv END) AS conv_a,
                MAX(CASE WHEN arm = 1 THEN n END)    AS n_b,
                MAX(CASE WHEN arm = 1 THEN conv END) AS conv_b
            FROM arms
        )
        SELECT n_a, conv_a, n_b, conv_b,
               ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS p_a,
               ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS p_b,
               ROUND((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
                     / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
               ABS((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
                   / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                          * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b))) > 1.959963985
                   AS significant_95
        FROM wide
    """,
    tags=("stats", "abtest", "aggregate", "events"),
)
def stats_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test: events split into arms by event_id
    parity, success = 'purchase'; pooled-variance z plus the
    fixed-critical-value 95% decision (|z| > 1.96 — no CDF, so nothing
    to approximate cross-engine). (The testdata's user population is
    tiny and universally converting, so the unit of randomization is
    the event — the test mechanics are identical.)

    One map-side-combinable 2-row aggregate, then scalar algebra —
    O(1) output from one shuffle."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("event_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (p_b - p_a) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959963985).alias("significant_95"),
    )


BH_Q = 0.10  # FDR level
# Abramowitz & Stegun 7.1.26 erf polynomial — stated with identical
# arithmetic in both engines so the only divergence is libm ulps,
# absorbed by rounding p before the BH ranking.
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_AS_P = 0.3275911


def _erf_expr(x):
    """erf(x) for x >= 0 via the A&S 7.1.26 polynomial (|err| < 1.5e-7)."""
    t = 1.0 / (1.0 + _AS_P * x)
    a1, a2, a3, a4, a5 = _AS_A
    poly = (
        a1 * t
        + a2 * F.pow(t, 2)
        + a3 * F.pow(t, 3)
        + a4 * F.pow(t, 4)
        + a5 * F.pow(t, 5)
    )
    return 1.0 - poly * F.exp(-x * x)


def _erf_sql(x: str) -> str:
    a1, a2, a3, a4, a5 = _AS_A
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    return (
        f"(1.0 - ({a1} * {t} + {a2} * POWER({t}, 2) + {a3} * POWER({t}, 3)"
        f" + {a4} * POWER({t}, 4) + {a5} * POWER({t}, 5))"
        f" * EXP(-({x}) * ({x})))"
    )


_BH_Z = (
    "(cell_mean - g.mu) * SQRT(CAST(n AS DOUBLE)) / g.sd"
)


@query(
    "stats_bh_fdr",
    oracle=f"""
        WITH cells AS (
            SELECT event_type, EXTRACT(ISODOW FROM CAST(ts AS DATE)) AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   AVG(value) AS cell_mean
            FROM events GROUP BY event_type, EXTRACT(ISODOW FROM CAST(ts AS DATE))
        ),
        g AS (
            SELECT AVG(value) AS mu, stddev_pop(value) AS sd,
                   CAST(COUNT(*) AS BIGINT) AS n_total
            FROM events
        ),
        pvals AS (
            SELECT event_type, dow, n,
                   ROUND({_BH_Z}, 6) AS z,
                   ROUND(1.0 - {_erf_sql(f"ABS({_BH_Z}) / SQRT(2.0)")}, 6) AS p
            FROM cells CROSS JOIN g
        ),
        ranked AS (
            SELECT event_type, dow, n, z, p,
                   ROW_NUMBER() OVER (ORDER BY p, event_type, dow) AS rk,
                   CAST(COUNT(*) OVER () AS DOUBLE) AS m
            FROM pvals
        ),
        cutoff AS (
            SELECT COALESCE(MAX(CASE WHEN p <= rk * {BH_Q} / m
                                     THEN rk END), 0) AS k_star
            FROM ranked
        )
        SELECT event_type, CAST(dow AS BIGINT) AS dow, n, z, p,
               CAST(rk AS BIGINT) AS rk,
               rk <= k_star AS rejected
        FROM ranked CROSS JOIN cutoff
    """,
    tags=("stats", "fdr", "multiple-testing", "events", "window"),
)
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over 35 simultaneous hypotheses (mean
    event value per (event_type, ISO weekday) cell vs the global
    mean): per-cell z from global σ, two-sided p via the A&S erf
    polynomial (identical arithmetic both engines, rounded before
    ranking), then the BH step-up: reject every p ranked at or below
    k* = max{{i : p_i ≤ i·q/m}} at q = 0.10.

    One cell aggregation over events + one scalar aggregate; ranking,
    the k* cutoff, and the step-up all window over the m-row
    hypothesis AGGREGATE — multiple-testing control costs nothing at
    100 TB because m is the number of hypotheses, not rows."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.weekday(F.col("ts").cast("date")) + 1).cast("bigint").alias("dow"),
    ).agg(F.count("*").alias("n"), F.avg("value").alias("cell_mean"))
    g = F.broadcast(
        e.agg(
            F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
        )
    )
    z = (
        (F.col("cell_mean") - F.col("mu"))
        * F.sqrt(F.col("n").cast("double"))
        / F.col("sd")
    )
    pvals = cells.crossJoin(g).select(
        "event_type",
        "dow",
        "n",
        F.round(z, 6).alias("z"),
        F.round(1.0 - _erf_expr(F.abs(z) / F.sqrt(F.lit(2.0))), 6).alias("p"),
    )
    w_rank = Window.orderBy("p", "event_type", "dow")
    w_all = Window.partitionBy()
    ranked = pvals.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(w_all).cast("double")
    )
    ranked = ranked.withColumn(
        "k_star",
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= F.col("rk") * BH_Q / F.col("m"), F.col("rk")
                )
            ).over(w_all),
            F.lit(0),
        ),
    )
    return ranked.select(
        "event_type",
        "dow",
        "n",
        "z",
        "p",
        F.col("rk").cast("bigint").alias("rk"),
        (F.col("rk") <= F.col("k_star")).alias("rejected"),
    )


QN_BUCKETS = 10


@query(
    "stats_quantile_normalize",
    oracle=f"""
        WITH bucketed AS (
            SELECT source, n_chars,
                   NTILE({QN_BUCKETS}) OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id
                   ) AS decile
            FROM documents
        ),
        per_cell AS (
            SELECT source, decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   AVG(CAST(n_chars AS DOUBLE)) AS raw_mean
            FROM bucketed GROUP BY source, decile
        ),
        target AS (
            SELECT decile, AVG(raw_mean) AS qnorm_value
            FROM per_cell GROUP BY decile
        )
        SELECT p.source, CAST(p.decile AS INTEGER) AS decile, p.n_docs,
               ROUND(p.raw_mean, 6) AS raw_mean,
               ROUND(t.qnorm_value, 6) AS qnorm_value
        FROM per_cell p JOIN target t ON t.decile = p.decile
    """,
    tags=("stats", "normalization", "documents", "window"),
)
def stats_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed quantile normalization of document lengths across
    sources: each source's docs rank into 10 source-local deciles
    (NTILE over the unique (n_chars, doc_id) order), and every decile
    maps to the cross-source mean of that decile's means — the
    distribution-alignment step a multi-source curation pipeline runs
    before mixing.

    The NTILE window partitions by source (parallel across sources);
    everything downstream aggregates the source×decile grid. Output
    is the alignment table (source, decile → normalized value), not
    per-doc rows — at 100 TB you broadcast this table back onto docs."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    bucketed = d.select(
        "source", "n_chars", F.ntile(QN_BUCKETS).over(w).alias("decile")
    )
    per_cell = bucketed.groupBy("source", "decile").agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("n_chars").cast("double")).alias("raw_mean"),
    )
    target = per_cell.groupBy("decile").agg(
        F.avg("raw_mean").alias("qnorm_value")
    )
    return (
        per_cell.join(F.broadcast(target), "decile")
        .select(
            "source",
            F.col("decile").cast("int").alias("decile"),
            "n_docs",
            F.round("raw_mean", 6).alias("raw_mean"),
            F.round("qnorm_value", 6).alias("qnorm_value"),
        )
    )


@query(
    "stats_bandit_posteriors",
    oracle=f"""
        WITH arms AS (
            SELECT event_id % 4 AS arm, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS conv
            FROM events GROUP BY event_id % 4
        ),
        post AS (
            SELECT arm, n, conv,
                   CAST(conv + 1 AS DOUBLE) AS alpha,
                   CAST(n - conv + 1 AS DOUBLE) AS beta
            FROM arms
        ),
        moments AS (
            SELECT arm, n, conv, alpha, beta,
                   alpha / (alpha + beta) AS pmean,
                   SQRT(alpha * beta
                        / (POWER(alpha + beta, 2) * (alpha + beta + 1)))
                       AS psd
            FROM post
        ),
        best AS (
            SELECT MAX(pmean) AS best_mean FROM moments
        ),
        scored AS (
            SELECT m.arm, m.n, m.conv,
                   ROUND(m.pmean, 6) AS post_mean,
                   ROUND(m.psd, 6) AS post_sd,
                   ROUND(m.pmean - {Z95_TWO_SIDED} * m.psd, 6) AS ci_lo,
                   ROUND(m.pmean + {Z95_TWO_SIDED} * m.psd, 6) AS ci_hi,
                   m.pmean = b.best_mean AS is_leader,
                   ROUND(0.5 * (1.0 + CASE
                       WHEN b.best_mean = m.pmean THEN 1.0
                       ELSE {_erf_sql("((SELECT pmean FROM moments ORDER BY pmean DESC, arm LIMIT 1) - m.pmean) / SQRT(2.0 * (POWER(m.psd, 2) + (SELECT POWER(psd, 2) FROM moments ORDER BY pmean DESC, arm LIMIT 1)))")}
                   END), 6) AS p_best_beats
            FROM moments m CROSS JOIN best b
        )
        SELECT arm, n, conv, post_mean, post_sd, ci_lo, ci_hi, is_leader,
               p_best_beats
        FROM scored
    """,
    tags=("stats", "bandit", "abtest", "events"),
)
def stats_bandit_posteriors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian bandit monitor over 4 arms (event_id mod 4, success =
    'purchase'): Beta(1+conv, 1+n−conv) posterior mean/sd, 95%
    credible interval, and P(leader beats arm) under the
    normal-approximate posterior difference (the same A&S erf
    arithmetic both engines, so the probability is cross-engine
    reproducible — exact Beta tail integrals are not).

    One 4-row aggregate; the leader comparison is scalar algebra
    against the broadcast best arm. This is the nightly report an
    adaptive-allocation experiment prints at any scale — cost is
    O(arms), not rows."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("event_id") % 4).alias("arm")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    post = arms.select(
        "arm",
        "n",
        "conv",
        (F.col("conv") + 1).cast("double").alias("alpha"),
        (F.col("n") - F.col("conv") + 1).cast("double").alias("beta"),
    )
    moments = post.select(
        "arm",
        "n",
        "conv",
        (F.col("alpha") / (F.col("alpha") + F.col("beta"))).alias("pmean"),
        F.sqrt(
            F.col("alpha")
            * F.col("beta")
            / (
                F.pow(F.col("alpha") + F.col("beta"), 2)
                * (F.col("alpha") + F.col("beta") + 1)
            )
        ).alias("psd"),
    )
    leader = F.broadcast(
        moments.orderBy(F.col("pmean").desc(), "arm")
        .limit(1)
        .select(
            F.col("pmean").alias("best_mean"), F.col("psd").alias("best_sd")
        )
    )
    diff_z = (F.col("best_mean") - F.col("pmean")) / F.sqrt(
        2.0 * (F.pow(F.col("psd"), 2) + F.pow(F.col("best_sd"), 2))
    )
    return moments.crossJoin(leader).select(
        "arm",
        "n",
        "conv",
        F.round("pmean", 6).alias("post_mean"),
        F.round("psd", 6).alias("post_sd"),
        F.round(F.col("pmean") - Z95_TWO_SIDED * F.col("psd"), 6).alias("ci_lo"),
        F.round(F.col("pmean") + Z95_TWO_SIDED * F.col("psd"), 6).alias("ci_hi"),
        (F.col("pmean") == F.col("best_mean")).alias("is_leader"),
        F.round(
            0.5
            * (
                1.0
                + F.when(F.col("best_mean") == F.col("pmean"), F.lit(1.0))
                .otherwise(_erf_expr(diff_z))
            ),
            6,
        ).alias("p_best_beats"),
    )


@query(
    "stats_runs_test",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        ),
        moves AS (
            SELECT d,
                   CASE WHEN rev > LAG(rev) OVER (ORDER BY d) THEN 1
                        WHEN rev < LAG(rev) OVER (ORDER BY d) THEN -1
                   END AS s
            FROM daily
        ),
        seq AS (
            SELECT s,
                   CASE WHEN s <> LAG(s) OVER (ORDER BY d)
                        OR LAG(s) OVER (ORDER BY d) IS NULL
                        THEN 1 ELSE 0 END AS new_run
            FROM moves WHERE s IS NOT NULL
        ),
        agg AS (
            SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
                   CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
                   CAST(SUM(new_run) AS BIGINT) AS n_runs
            FROM seq
        )
        SELECT n_up, n_down, n_runs,
               ROUND(2.0 * n_up * n_down / (n_up + n_down) + 1, 6) AS expected_runs,
               ROUND((n_runs - (2.0 * n_up * n_down / (n_up + n_down) + 1))
                     / SQRT(2.0 * n_up * n_down
                            * (2.0 * n_up * n_down - n_up - n_down)
                            / (POWER(CAST(n_up + n_down AS DOUBLE), 2)
                               * (n_up + n_down - 1))), 6) AS z,
               ABS((n_runs - (2.0 * n_up * n_down / (n_up + n_down) + 1))
                   / SQRT(2.0 * n_up * n_down
                          * (2.0 * n_up * n_down - n_up - n_down)
                          / (POWER(CAST(n_up + n_down AS DOUBLE), 2)
                             * (n_up + n_down - 1)))) > 1.959963985
                   AS significant_95
        FROM agg
    """,
    tags=("stats", "runs-test", "timeseries", "window", "orders"),
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue up/down sequence —
    "is the series random or trending/mean-reverting": observed runs
    vs E[R] = 2n₁n₂/(n₁+n₂)+1 with the exact variance, z-scored, and
    the fixed-critical-value 95% decision (no CDF).

    Orders reduce to the day spine; the sign LAG and run-boundary LAG
    are two windows over that aggregate; the statistic is scalar
    algebra. Flat days (rev equal to previous) are excluded, stated
    identically in both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    wd = Window.orderBy("d")
    moves = daily.select(
        "d",
        F.when(F.col("rev") > F.lag("rev").over(wd), 1)
        .when(F.col("rev") < F.lag("rev").over(wd), -1)
        .alias("s"),
    )
    seq = moves.where(F.col("s").isNotNull()).select(
        "s",
        F.when(
            (F.col("s") != F.lag("s").over(wd))
            | F.lag("s").over(wd).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = seq.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n_up"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).alias("n_down"),
        F.sum("new_run").alias("n_runs"),
    )
    n1, n2, r = F.col("n_up"), F.col("n_down"), F.col("n_runs")
    e_runs = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / (F.pow((n1 + n2).cast("double"), 2) * (n1 + n2 - 1))
    )
    z = (r - e_runs) / F.sqrt(var)
    return agg.select(
        "n_up",
        "n_down",
        "n_runs",
        F.round(e_runs, 6).alias("expected_runs"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959963985).alias("significant_95"),
    )


DID_SPLIT = "1998-01-01"  # pre/post boundary (orders span 1995-2001)


@query(
    "stats_diff_in_diff",
    oracle=f"""
        WITH j AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   o_totalprice AS price,
                   (c_nationkey % 2 = 0) AS treat,
                   (o_orderdate >= TIMESTAMP '{DID_SPLIT}') AS post
            FROM orders JOIN customer ON o_custkey = c_custkey
        ),
        cells AS (
            SELECT
              COUNT(CASE WHEN treat AND post THEN 1 END)      AS n_tp,
              COUNT(CASE WHEN treat AND NOT post THEN 1 END)  AS n_t0,
              COUNT(CASE WHEN NOT treat AND post THEN 1 END)  AS n_cp,
              COUNT(CASE WHEN NOT treat AND NOT post THEN 1 END) AS n_c0,
              SUM(CASE WHEN treat AND post THEN cents END)      AS s_tp,
              SUM(CASE WHEN treat AND NOT post THEN cents END)  AS s_t0,
              SUM(CASE WHEN NOT treat AND post THEN cents END)  AS s_cp,
              SUM(CASE WHEN NOT treat AND NOT post THEN cents END) AS s_c0,
              VAR_SAMP(CASE WHEN treat AND post THEN price END)     AS v_tp,
              VAR_SAMP(CASE WHEN treat AND NOT post THEN price END) AS v_t0,
              VAR_SAMP(CASE WHEN NOT treat AND post THEN price END) AS v_cp,
              VAR_SAMP(CASE WHEN NOT treat AND NOT post THEN price END) AS v_c0
            FROM j
        )
        SELECT n_tp, n_t0, n_cp, n_c0,
               ROUND(s_tp / 100.0 / n_tp, 6) AS m_treat_post,
               ROUND(s_t0 / 100.0 / n_t0, 6) AS m_treat_pre,
               ROUND(s_cp / 100.0 / n_cp, 6) AS m_ctrl_post,
               ROUND(s_c0 / 100.0 / n_c0, 6) AS m_ctrl_pre,
               ROUND((s_tp / 100.0 / n_tp - s_t0 / 100.0 / n_t0)
                     - (s_cp / 100.0 / n_cp - s_c0 / 100.0 / n_c0), 6)
                   AS did_estimate,
               ROUND(SQRT(v_tp / n_tp + v_t0 / n_t0
                          + v_cp / n_cp + v_c0 / n_c0), 4) AS se,
               ROUND(((s_tp / 100.0 / n_tp - s_t0 / 100.0 / n_t0)
                      - (s_cp / 100.0 / n_cp - s_c0 / 100.0 / n_c0))
                     / SQRT(v_tp / n_tp + v_t0 / n_t0
                            + v_cp / n_cp + v_c0 / n_c0), 4) AS z_score,
               ABS(((s_tp / 100.0 / n_tp - s_t0 / 100.0 / n_t0)
                    - (s_cp / 100.0 / n_cp - s_c0 / 100.0 / n_c0))
                   / SQRT(v_tp / n_tp + v_t0 / n_t0
                          + v_cp / n_cp + v_c0 / n_c0)) > {Z95_TWO_SIDED}
                   AS significant_95
        FROM cells
    """,
    tags=("stats", "causal", "experiment", "aggregate"),
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the order-value shift
    around {DID_SPLIT}: treatment = customers of even-keyed nations,
    control = odd-keyed, pre/post by order date. Reports the four cell
    means, the DiD estimate (ΔT − ΔC), its large-sample standard error
    sqrt(Σ s²_g/n_g), the z score, and the fixed-critical-value 95%
    decision (same no-CDF contract as ``stats_ab_proportion_test``).

    One dimension join (customer — broadcastable) and ONE conditional-
    aggregation pass produce a single scalar row: no pivot, no second
    scan, map-side combined everywhere. Cell means come from EXACT
    integer cent sums (o_totalprice is cents-exact; Σ cents < 2^63 up
    to ~sf100), so they are bit-identical cross-engine; only the
    variance terms are float aggregates, and they enter the output
    through sqrt(v/n) — relative error ~1e-12 — rounded at 4."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_totalprice").alias("price"),
        (F.col("c_nationkey") % 2 == 0).alias("treat"),
        (F.col("o_orderdate") >= F.lit(DID_SPLIT).cast("timestamp")).alias("post"),
    )
    cond = {
        "tp": F.col("treat") & F.col("post"),
        "t0": F.col("treat") & ~F.col("post"),
        "cp": ~F.col("treat") & F.col("post"),
        "c0": ~F.col("treat") & ~F.col("post"),
    }
    cells = j.agg(
        *[F.count(F.when(cnd, 1)).alias(f"n_{k}") for k, cnd in cond.items()],
        *[F.sum(F.when(cnd, F.col("cents"))).alias(f"s_{k}") for k, cnd in cond.items()],
        *[F.var_samp(F.when(cnd, F.col("price"))).alias(f"v_{k}") for k, cnd in cond.items()],
    )
    m = {k: F.col(f"s_{k}") / 100.0 / F.col(f"n_{k}") for k in cond}
    did = (m["tp"] - m["t0"]) - (m["cp"] - m["c0"])
    se = F.sqrt(
        sum(F.col(f"v_{k}") / F.col(f"n_{k}") for k in cond)
    )
    return cells.select(
        "n_tp", "n_t0", "n_cp", "n_c0",
        F.round(m["tp"], 6).alias("m_treat_post"),
        F.round(m["t0"], 6).alias("m_treat_pre"),
        F.round(m["cp"], 6).alias("m_ctrl_post"),
        F.round(m["c0"], 6).alias("m_ctrl_pre"),
        F.round(did, 6).alias("did_estimate"),
        F.round(se, 4).alias("se"),
        F.round(did / se, 4).alias("z_score"),
        (F.abs(did / se) > Z95_TWO_SIDED).alias("significant_95"),
    )


@query(
    "stats_median_ci",
    oracle=f"""
        WITH v AS (SELECT o_totalprice AS x FROM orders),
        nn AS (SELECT COUNT(*) AS n FROM v),
        k AS (
            SELECT n,
                   GREATEST(1, CAST(FLOOR((n - {Z95_TWO_SIDED} * SQRT(n)) / 2)
                                    AS BIGINT)) AS klo,
                   LEAST(n, CAST(CEIL((n + {Z95_TWO_SIDED} * SQRT(n)) / 2)
                                 AS BIGINT) + 1) AS khi,
                   CAST(FLOOR((n + 1) / 2) AS BIGINT) AS km1,
                   CAST(FLOOR(n / 2) AS BIGINT) + 1 AS km2
            FROM nn
        ),
        r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rk FROM v)
        SELECT n,
               MAX(CASE WHEN rk = klo THEN x END) AS ci_lo,
               ROUND((MAX(CASE WHEN rk = km1 THEN x END)
                      + MAX(CASE WHEN rk = km2 THEN x END)) / 2, 4)
                   AS median_exact,
               MAX(CASE WHEN rk = khi THEN x END) AS ci_hi
        FROM r CROSS JOIN k
        GROUP BY n
    """,
    tags=("stats", "percentile", "scale", "inference"),
)
def stats_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median of
    order value via binomial ORDER STATISTICS: ranks floor((n±1.96√n)/2)
    (clamped, the standard large-sample sign-test inversion) — no
    normality assumption on the data, only on the rank distribution.

    The oracle states the textbook definition (a global ROW_NUMBER —
    exactly the single-partition sort that does NOT scale). The engine
    side extracts the four needed order statistics with
    ``functions.ranks.values_at_ranks``: a bucket ledger locates each
    rank's bucket, and only those buckets are ranked. No global sort, no
    per-group buffering; ties share a value so tie-order inside a bucket
    cannot change the picked value."""
    x = load_table(spark, sf_dir, "orders").select("o_totalprice")
    n = F.col("n")
    # 0-based ranks == the oracle's 1-based ranks − 1, algebraically:
    # GREATEST(1, f)−1 = GREATEST(0, f−1); LEAST(n, c+1)−1 = LEAST(n−1, c).
    ranks = {
        "klo": F.greatest(
            F.lit(0),
            F.floor((n - Z95_TWO_SIDED * F.sqrt(n)) / 2).cast("bigint") - 1,
        ),
        "km1": F.floor((n + 1) / 2).cast("bigint") - 1,
        "km2": F.floor(n / 2).cast("bigint"),
        "khi": F.least(
            n - 1,
            F.ceil((n + Z95_TWO_SIDED * F.sqrt(n)) / 2).cast("bigint"),
        ),
    }
    return values_at_ranks(x, "o_totalprice", ranks, by=()).select(
        "n",
        F.col("klo").alias("ci_lo"),
        F.round((F.col("km1") + F.col("km2")) / 2, 4).alias("median_exact"),
        F.col("khi").alias("ci_hi"),
    )


PWR_Z80 = 0.8416212336  # one-sided 80% power quantile
PWR_REL_EFFECT = 0.02  # minimum detectable effect: 2% of the group mean


@query(
    "stats_power_analysis",
    oracle=f"""
        WITH g AS (
            SELECT c_mktsegment,
                   COUNT(*) AS n_obs,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
                   STDDEV_SAMP(o_totalprice) AS sd
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, n_obs,
               ROUND(cents / 100.0 / n_obs, 6) AS mean_value,
               ROUND(sd, 4) AS sd_value,
               ROUND({PWR_REL_EFFECT} * cents / 100.0 / n_obs, 6) AS mde,
               ROUND(2 * POWER(({Z95_TWO_SIDED} + {PWR_Z80}) * sd
                               / ({PWR_REL_EFFECT} * cents / 100.0 / n_obs),
                               2), 2) AS n_required_per_arm
        FROM g
    """,
    tags=("stats", "experiment", "power", "aggregate"),
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test sample-size calculator per market segment: the
    two-sample-means power formula n = 2·((z_{{α/2}}+z_β)·σ/δ)² with
    δ = 2% of the observed segment mean, α = 5% two-sided, power = 80%
    (fixed quantile constants — no inverse-CDF to keep in cross-engine
    lockstep). The planning query run before ``stats_diff_in_diff``-
    style experiments.

    One broadcast dim join + one segment-keyed aggregation. Means come
    from exact cent sums; σ enters only through the stable one-pass
    stddev (relative error ~1e-12), and the output is the REAL-valued
    requirement rounded at 2 — no ceil, whose knife-edge integer
    boundary would be the one nondeterministic bit."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    g = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            ),
            F.stddev_samp("o_totalprice").alias("sd"),
        )
    )
    mean = F.col("cents") / 100.0 / F.col("n_obs")
    mde = PWR_REL_EFFECT * mean
    return g.select(
        "c_mktsegment",
        "n_obs",
        F.round(mean, 6).alias("mean_value"),
        F.round(F.col("sd"), 4).alias("sd_value"),
        F.round(mde, 6).alias("mde"),
        F.round(
            2 * F.pow((Z95_TWO_SIDED + PWR_Z80) * F.col("sd") / mde, F.lit(2)), 2
        ).alias("n_required_per_arm"),
    )


@query(
    "stats_nelson_aalen",
    oracle=f"""
        WITH horizon AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
        ),
        subj AS (
            SELECT c.c_mktsegment AS segment,
                   date_diff('day', MIN(CAST(o.o_orderdate AS DATE)),
                             MAX(CAST(o.o_orderdate AS DATE))) AS duration,
                   CASE WHEN date_diff('day',
                                       MAX(CAST(o.o_orderdate AS DATE)),
                                       MAX(h.maxd)) > {KM_CENSOR_DAYS}
                        THEN 1 ELSE 0 END AS event
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            CROSS JOIN horizon h
            GROUP BY c.c_mktsegment, o.o_custkey
        ),
        seg AS (
            SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_subjects
            FROM subj GROUP BY segment
        ),
        steps AS (
            SELECT segment, duration AS t,
                   CAST(SUM(event) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS leaving
            FROM subj GROUP BY segment, duration
        ),
        risk AS (
            SELECT s.segment, s.t, s.d,
                   g.n_subjects
                   - COALESCE(SUM(s.leaving) OVER (
                         PARTITION BY s.segment ORDER BY s.t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS n_risk
            FROM steps s JOIN seg g ON g.segment = s.segment
        ),
        na AS (
            SELECT segment, t, d, n_risk,
                   ROUND(SUM(CAST(d AS DOUBLE) / n_risk) OVER (
                       PARTITION BY segment ORDER BY t
                   ), 6) AS h_na,
                   ROUND(EXP(-SUM(CAST(d AS DOUBLE) / n_risk) OVER (
                       PARTITION BY segment ORDER BY t
                   )), 6) AS s_fh
            FROM risk
            WHERE d > 0
        )
        SELECT segment, CAST(t AS BIGINT) AS t,
               d, CAST(n_risk AS BIGINT) AS n_risk, h_na, s_fh
        FROM na
        QUALIFY ROW_NUMBER() OVER (PARTITION BY segment ORDER BY t)
                <= {KM_MAX_STEPS}
    """,
    tags=("stats", "survival", "window", "orders", "customer"),
)
def stats_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ d_i/n_i per market
    segment, with the Fleming-Harrington survival transform
    S_FH = exp(−H) — the additive-hazard companion to
    ``stats_kaplan_meier`` (same subjects, durations, censoring, and
    risk-set construction; a running SUM window instead of the
    product-limit). Since 1−x ≤ e^−x, S_KM ≤ S_FH pointwise — pinned in
    pytest as the cross-estimator consistency check.

    Same 100 TB shape as KM: one customer-grain aggregation, then every
    window runs over the distinct-duration AGGREGATE per segment."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    subj = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(maxd))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("duration"),
            F.when(
                F.datediff(
                    F.max(F.col("maxd")), F.max(F.col("o_orderdate").cast("date"))
                )
                > KM_CENSOR_DAYS,
                1,
            )
            .otherwise(0)
            .alias("event"),
        )
    )
    seg = subj.groupBy("segment").agg(F.count("*").alias("n_subjects"))
    steps = subj.groupBy("segment", F.col("duration").alias("t")).agg(
        F.sum("event").alias("d"), F.count("*").alias("leaving")
    )
    w_prev = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = steps.join(F.broadcast(seg), "segment").select(
        "segment",
        "t",
        "d",
        (
            F.col("n_subjects")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    w_cum = Window.partitionBy("segment").orderBy("t")
    hterm = F.col("d").cast("double") / F.col("n_risk")
    na = (
        risk.withColumn("h_cum", F.sum(hterm).over(w_cum))
        .where(F.col("d") > 0)
        .select(
            "segment",
            F.col("t").cast("bigint").alias("t"),
            "d",
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.round(F.col("h_cum"), 6).alias("h_na"),
            F.round(F.exp(-F.col("h_cum")), 6).alias("s_fh"),
        )
    )
    w_rank = Window.partitionBy("segment").orderBy("t")
    return (
        na.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= KM_MAX_STEPS)
        .drop("rn")
    )


ANOVA_F95_K5 = 2.372  # F(4, inf) upper 5% critical value (df1 = 5-1)


@query(
    "stats_anova_oneway",
    oracle=f"""
        WITH g AS (
            SELECT o_orderpriority,
                   COUNT(*) AS n,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
                   VAR_SAMP(o_totalprice) AS v
            FROM orders GROUP BY o_orderpriority
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   SUM(cents) / 100.0 / SUM(n) AS grand_mean
            FROM g
        ),
        parts AS (
            SELECT n_total, k,
                   SUM(n * POWER(cents / 100.0 / n - grand_mean, 2))
                       AS ss_between,
                   SUM((n - 1) * v) AS ss_within
            FROM g CROSS JOIN tot
            GROUP BY n_total, k
        )
        SELECT n_total, k,
               ROUND(ss_between / (k - 1), 2) AS ms_between,
               ROUND(ss_within / (n_total - k), 2) AS ms_within,
               ROUND((ss_between / (k - 1)) / (ss_within / (n_total - k)), 6)
                   AS f_stat,
               (ss_between / (k - 1)) / (ss_within / (n_total - k))
                   > {ANOVA_F95_K5} AS significant_95,
               ROUND(ss_between / (ss_between + ss_within), 8) AS eta_squared
        FROM parts
    """,
    tags=("stats", "hypothesis-test", "anova", "aggregate"),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean order value differ across the five
    order priorities? F = MS_between/MS_within from ONE group-keyed
    aggregation pass (k=5 rows), with η² effect size and the fixed
    F(4, ∞) critical-value decision (no CDF — house contract; the
    within degrees of freedom is ~n so the asymptotic critical value is
    exact to the shown precision).

    Determinism: group means and the grand mean come from EXACT integer
    cent sums; SS_within uses the stable one-pass sample variances
    (relative error ~1e-12) — both F and η² round clean at 6/8. The
    scalar cross joins touch only the k-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.var_samp("o_totalprice").alias("v"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("k"),
        (F.sum("cents") / 100.0 / F.sum("n")).alias("grand_mean"),
    )
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("n_total", "k")
        .agg(
            F.sum(
                F.col("n")
                * F.pow(
                    F.col("cents") / 100.0 / F.col("n") - F.col("grand_mean"),
                    F.lit(2),
                )
            ).alias("ss_between"),
            F.sum((F.col("n") - 1) * F.col("v")).alias("ss_within"),
        )
    )
    msb = F.col("ss_between") / (F.col("k") - 1)
    msw = F.col("ss_within") / (F.col("n_total") - F.col("k"))
    return parts.select(
        "n_total",
        "k",
        F.round(msb, 2).alias("ms_between"),
        F.round(msw, 2).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
        (msb / msw > ANOVA_F95_K5).alias("significant_95"),
        F.round(
            F.col("ss_between") / (F.col("ss_between") + F.col("ss_within")), 8
        ).alias("eta_squared"),
    )


# Poisson(1) inverse-CDF thresholds, P(X <= k) for k = 0..5, shared as
# literals by the Spark plan and the oracle so neither engine evaluates
# exp() at runtime (same fixed-constant contract as the z/F critical
# values above). Counts past 6 are folded into w = 6 (P ~ 6e-4).
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)
BOOT_REPLICATES = 64
LCG_A, LCG_C, LCG_M = 1103515245, 12345, 2147483648  # glibc rand()

_POISSON_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(POISSON1_CDF)
    )
    + " ELSE 6 END"
)


@query(
    "stats_poisson_bootstrap_ci",
    oracle=f"""
        WITH rows_r AS (
            SELECT CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
                   ((({LCG_A} * (({LCG_A} * ((o.o_orderkey * {BOOT_REPLICATES}
                        + r.rep) % {LCG_M}) + {LCG_C}) % {LCG_M})
                      + {LCG_C}) % {LCG_M}) / {float(LCG_M)!r}) AS u,
                   r.rep AS rep
            FROM orders o
            CROSS JOIN (SELECT UNNEST(generate_series(0, {BOOT_REPLICATES - 1}))
                        AS rep) r
        ),
        weighted AS (
            SELECT rep, {_POISSON_CASE_SQL} AS w, cents FROM rows_r
        ),
        replicate AS (
            SELECT rep,
                   ROUND(SUM(w * cents) / 100.0 / SUM(w), 6) AS m
            FROM weighted GROUP BY rep HAVING SUM(w) > 0
        ),
        moments AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS r_n,
                   SUM(m) AS s1, SUM(m * m) AS s2
            FROM replicate
        ),
        point AS (
            SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0
                       / COUNT(*) AS pt
            FROM orders
        )
        SELECT r_n AS n_replicates,
               ROUND(pt, 6) AS point_mean,
               ROUND(s1 / r_n, 6) AS boot_mean,
               ROUND(SQRT((s2 - s1 * s1 / r_n) / (r_n - 1)), 4) AS boot_se,
               ROUND(pt - 1.959964
                     * SQRT((s2 - s1 * s1 / r_n) / (r_n - 1)), 2) AS ci_lo,
               ROUND(pt + 1.959964
                     * SQRT((s2 - s1 * s1 / r_n) / (r_n - 1)), 2) AS ci_hi
        FROM moments, point
    """,
    tags=("stats", "resampling", "bootstrap", "orders"),
)
def stats_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean order value — resampling
    inference in ONE pass over the fact table, no per-replicate rescans.

    The classical bootstrap draws R independent samples-with-replacement
    (R full shuffles of 100 TB — a non-starter). The Poisson bootstrap
    observes that each row's multiplicity in a resample is ~Binomial(n,
    1/n) -> Poisson(1), independent per row, so ALL R replicates are
    materialized by one explode(x R) whose per-row weights come from a
    counter-based PRNG on (o_orderkey, rep) — deterministic, seedable,
    and cross-engine reproducible via pure integer arithmetic (a
    two-round glibc LCG mod 2^31; headroom bound: o_orderkey * 64 must
    stay under 2^63, i.e. keys < 2^57). Weights are drawn by inverse
    CDF against fixed Poisson(1) literals, so no runtime exp()/RNG
    whose platform could diverge.

    Scale shape: project-then-explode keeps only (cents, key) wide;
    the replicate aggregation is algebraic (map-side combine folds the
    x64 blow-up back to 64 partials per task before the shuffle), the
    64-row replicate table reduces to explicit moments, and the normal
    CI point +/- 1.959964 * se closes the estimate. Replicate means are
    rounded to 6 dp before the moment pass (the repo's partial-sum
    rounding idiom); se/CI use the explicit sum-of-squares identity so
    both engines run the same algebra rather than their own variance
    kernels. Reference analog: the accuracy point estimates of
    `/root/reference/src/voice_classifier.py:232` (score on one split,
    no uncertainty) upgraded to a distribution-free interval.
    """
    o = load_table(spark, sf_dir, "orders")
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(BOOT_REPLICATES - 1))
    ).alias("rep")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    rows_r = o.select(
        cents.alias("cents"), F.col("o_orderkey"), rep
    )
    s0 = (F.col("o_orderkey") * BOOT_REPLICATES + F.col("rep")) % F.lit(LCG_M)
    x1 = (F.lit(LCG_A) * s0 + F.lit(LCG_C)) % F.lit(LCG_M)
    x2 = (F.lit(LCG_A) * x1 + F.lit(LCG_C)) % F.lit(LCG_M)
    u = x2 / F.lit(float(LCG_M))
    w = F.lit(6)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    replicate = (
        rows_r.select("rep", w.alias("w"), "cents")
        .groupBy("rep")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wc"),
            F.sum("w").alias("ws"),
        )
        .filter(F.col("ws") > 0)
        .select(F.round(F.col("wc") / 100.0 / F.col("ws"), 6).alias("m"))
    )
    moments = replicate.agg(
        F.count("*").cast("bigint").alias("r_n"),
        F.sum("m").alias("s1"),
        F.sum(F.col("m") * F.col("m")).alias("s2"),
    )
    point = o.agg(
        (F.sum(cents) / 100.0 / F.count("*")).alias("pt")
    )
    se = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("r_n"))
        / (F.col("r_n") - 1)
    )
    return moments.crossJoin(F.broadcast(point)).select(
        F.col("r_n").alias("n_replicates"),
        F.round(F.col("pt"), 6).alias("point_mean"),
        F.round(F.col("s1") / F.col("r_n"), 6).alias("boot_mean"),
        F.round(se, 4).alias("boot_se"),
        F.round(F.col("pt") - 1.959964 * se, 2).alias("ci_lo"),
        F.round(F.col("pt") + 1.959964 * se, 2).alias("ci_hi"),
    )


CUPED_SPLIT = "2024-01-16"  # pre-period = days 1-15, experiment = 16-30


@query(
    "stats_cuped_adjustment",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id % 2 AS arm,
                   SUM(CASE WHEN ts <  TIMESTAMP '{CUPED_SPLIT}'
                            THEN CAST(ROUND(value * 100) AS BIGINT)
                            ELSE 0 END) AS x_cents,
                   SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'
                            THEN CAST(ROUND(value * 100) AS BIGINT)
                            ELSE 0 END) AS y_cents
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY user_id % 2, user_id
        ),
        arms AS (
            SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x_cents) AS sx_c, SUM(y_cents) AS sy_c,
                   SUM((x_cents / 100.0) * (x_cents / 100.0)) AS sxx,
                   SUM((x_cents / 100.0) * (y_cents / 100.0)) AS sxy,
                   SUM((y_cents / 100.0) * (y_cents / 100.0)) AS syy
            FROM per_user GROUP BY arm
        ),
        pooled AS (
            SELECT SUM(n) AS nn, SUM(sx_c) / 100.0 AS sx,
                   SUM(sy_c) / 100.0 AS sy,
                   SUM(sxx) AS xx, SUM(sxy) AS xy
            FROM arms
        ),
        g AS (
            SELECT arm, n, sx_c, sy_c, sxx, sxy, syy,
                   (xy - sx * sy / nn) / (xx - sx * sx / nn) AS theta,
                   sx / nn AS xbar
            FROM arms CROSS JOIN pooled
        )
        SELECT arm, n,
               ROUND(sy_c / 100.0 / n, 6) AS mean_metric,
               ROUND(sy_c / 100.0 / n
                     - theta * (sx_c / 100.0 / n - xbar), 6) AS mean_cuped,
               ROUND(theta, 6) AS theta,
               ROUND(100 * (1 - (syy / n - POWER(sy_c / 100.0 / n, 2)
                                 + theta * theta
                                   * (sxx / n - POWER(sx_c / 100.0 / n, 2))
                                 - 2 * theta
                                   * (sxy / n - (sx_c / 100.0 / n)
                                                * (sy_c / 100.0 / n)))
                               / (syy / n - POWER(sy_c / 100.0 / n, 2))),
                     4) AS var_reduction_pct
        FROM g ORDER BY arm
    """,
    tags=("stats", "abtest", "experimentation", "cuped", "events", "aggregate"),
)
def stats_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): adjust each
    experiment-period metric by its pre-experiment covariate,
    ŷ = y − θ(x − x̄) with θ = cov(x,y)/var(x) pooled over both arms —
    the standard trick that cuts A/B test runtime by the squared
    pre/post correlation. Units are purchase-active users; arm =
    user_id parity (assignment-independent of the pre-period); x = pre-
    period purchase revenue (days 1–15), y = experiment-period revenue.

    Engine shape — ONE scan, user-grain shuffle, then scalar algebra:
    the events scan pushes event_type = 'purchase' into parquet, a
    single groupBy(user) folds both periods' revenues as EXACT integer
    cent sums (conditional aggregation, no second pass), a 2-row
    groupBy(arm) collects the six sufficient statistics (n, Σx, Σy,
    Σx², Σxy, Σy²), and θ, x̄, the adjusted means, and the per-arm
    variance-reduction percentage are closed-form algebra over that
    2-row frame (pop-variance identities — no per-user second pass, no
    window). At 100 TB the only shuffle is the user-grain combine,
    map-side partial-aggregated; everything after is O(arms) rows.

    Determinism: first moments are exact cents; the second-moment sums
    are doubles over per-user values that are themselves bit-identical
    (cents/100.0) in both engines, so reorder drift is ~1e-15 relative
    — far inside the ROUND(6/4) contract (same idiom as
    stats_anova_oneway).

    Reference analog: the reference's holdout evaluation compares raw
    per-arm score means (`/root/reference/src/voice_classifier.py:
    238-247`); CUPED is that comparison upgraded with the covariate
    adjustment a 100 TB experimentation stack runs by default.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.col("ts") < F.lit(CUPED_SPLIT).cast("timestamp")
    per_user = e.groupBy((F.col("user_id") % 2).alias("arm"), "user_id").agg(
        F.sum(F.when(pre, cents).otherwise(F.lit(0))).alias("x_cents"),
        F.sum(F.when(~pre, cents).otherwise(F.lit(0))).alias("y_cents"),
    )
    x = F.col("x_cents") / 100.0
    y = F.col("y_cents") / 100.0
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x_cents").alias("sx_c"),
        F.sum("y_cents").alias("sy_c"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    pooled = arms.agg(
        F.sum("n").alias("nn"),
        (F.sum("sx_c") / 100.0).alias("sx"),
        (F.sum("sy_c") / 100.0).alias("sy"),
        F.sum("sxx").alias("xx"),
        F.sum("sxy").alias("xy"),
    )
    g = arms.crossJoin(F.broadcast(pooled)).select(
        "arm", "n", "sx_c", "sy_c", "sxx", "sxy", "syy",
        (
            (F.col("xy") - F.col("sx") * F.col("sy") / F.col("nn"))
            / (F.col("xx") - F.col("sx") * F.col("sx") / F.col("nn"))
        ).alias("theta"),
        (F.col("sx") / F.col("nn")).alias("xbar"),
    )
    mx = F.col("sx_c") / 100.0 / F.col("n")
    my = F.col("sy_c") / 100.0 / F.col("n")
    var_y = F.col("syy") / F.col("n") - my * my
    var_x = F.col("sxx") / F.col("n") - mx * mx
    cov_xy = F.col("sxy") / F.col("n") - mx * my
    theta = F.col("theta")
    var_adj = var_y + theta * theta * var_x - 2 * theta * cov_xy
    return g.select(
        "arm",
        "n",
        F.round(my, 6).alias("mean_metric"),
        F.round(my - theta * (mx - F.col("xbar")), 6).alias("mean_cuped"),
        F.round(theta, 6).alias("theta"),
        F.round(100 * (1 - var_adj / var_y), 4).alias("var_reduction_pct"),
    ).orderBy("arm")


@query(
    "stats_ipw_ate",
    oracle="""
        WITH base AS (
            SELECT o_orderstatus AS stratum,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
            FROM orders
        ),
        strata AS (
            SELECT stratum,
                   COUNT(*) AS n,
                   CAST(SUM(t) AS BIGINT) AS n_t,
                   CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s_t,
                   CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s_c,
                   SUM(CASE WHEN t = 1 THEN y * y ELSE 0 END) AS q_t,
                   SUM(CASE WHEN t = 0 THEN y * y ELSE 0 END) AS q_c
            FROM base GROUP BY stratum
        ),
        ok AS (
            SELECT *, n - n_t AS n_c FROM strata WHERE n_t > 0 AND n - n_t > 0
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM ok)
        SELECT (SELECT COUNT(*) FROM strata)                  AS n_strata,
               (SELECT COUNT(*) FROM ok)                      AS n_strata_used,
               (SELECT big_n FROM tot)                        AS n_units,
               ROUND(SUM((n * 1.0 / (SELECT big_n FROM tot))
                     * (s_t * 1.0 / n_t - s_c * 1.0 / n_c)) / 100.0, 6)
                   AS ate_ipw,
               ROUND(SQRT(SUM(POWER(n * 1.0 / (SELECT big_n FROM tot), 2)
                     * ((q_t * 1.0 / n_t - POWER(s_t * 1.0 / n_t, 2)) / n_t
                      + (q_c * 1.0 / n_c - POWER(s_c * 1.0 / n_c, 2)) / n_c)))
                     / 100.0, 6)
                   AS se_ate
        FROM ok
    """,
    tags=("stats", "causal", "experiment", "aggregate", "orders"),
)
def stats_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with a
    plug-in discrete propensity: treatment = urgent priority, outcome =
    order value, confounder strata = order status. With e(x) estimated
    by the within-stratum treated share, the Hajek IPW estimator
    reduces EXACTLY to the stratified difference-of-means — computed
    that way so the oracle is closed-form; the Neyman SE combines
    per-stratum population variances (all from exact integer-cent sums
    and sums of squares). Strata lacking either arm are excluded
    (positivity violation) and reported via n_strata_used.

    100 TB design: one map-side-combinable aggregate over the fact
    table (6 sums per stratum), then scalar algebra on the tiny
    stratum frame — the same one-fact-pass shape as stats_cuped_
    adjustment; no window, no second pass, no per-unit weights ever
    materialized.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("stratum"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("t"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    strata = o.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s_c"),
        # y^2 sums overflow int64 at scale; exact 128-bit-wide decimal
        # sums mirror DuckDB's automatic BIGINT -> HUGEINT promotion
        F.sum(
            F.when(
                F.col("t") == 1,
                F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q_t"),
        F.sum(
            F.when(
                F.col("t") == 0,
                F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("q_c"),
    )
    n_strata = strata.agg(F.count(F.lit(1)).alias("n_strata"))
    ok = strata.where((F.col("n_t") > 0) & (F.col("n") - F.col("n_t") > 0)).select(
        "*", (F.col("n") - F.col("n_t")).alias("n_c")
    )
    tot = ok.agg(F.sum("n").cast("bigint").alias("big_n"))
    w = F.col("n") * 1.0 / F.col("big_n")
    mu_t = F.col("s_t") * 1.0 / F.col("n_t")
    mu_c = F.col("s_c") * 1.0 / F.col("n_c")
    var_t = F.col("q_t").cast("double") / F.col("n_t") - mu_t * mu_t
    var_c = F.col("q_c").cast("double") / F.col("n_c") - mu_c * mu_c
    return (
        ok.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_strata_used"),
            F.min("big_n").alias("n_units"),
            F.round(F.sum(w * (mu_t - mu_c)) / 100.0, 6).alias("ate_ipw"),
            F.round(
                F.sqrt(
                    F.sum(
                        w * w * (var_t / F.col("n_t") + var_c / F.col("n_c"))
                    )
                )
                / 100.0,
                6,
            ).alias("se_ate"),
        )
        .crossJoin(F.broadcast(n_strata))
        .select("n_strata", "n_strata_used", "n_units", "ate_ipw", "se_ate")
    )


_EB_SHOW = 10


@query(
    "stats_empirical_bayes_rates",
    oracle=f"""
        WITH per AS (
            SELECT o_custkey AS custkey,
                   COUNT(*) AS n,
                   CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM orders GROUP BY o_custkey
        ),
        pool AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n) AS BIGINT) AS sn,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   SUM(x * x * 1.0 / n) AS sxx,
                   SUM(n * n) AS snn
            FROM per
        ),
        prior AS (
            SELECT k, sn, sx,
                   sx * 1.0 / sn AS m,
                   (sxx - (sx * 1.0 / sn) * sx)
                   / NULLIF(sn - snn * 1.0 / sn, 0) AS v_between_raw
            FROM pool
        ),
        kap AS (
            SELECT k, m,
                   LEAST(GREATEST(
                       CASE WHEN v_between_raw > 0
                            THEN m * (1 - m) / v_between_raw - 1
                            ELSE 1e6 END, 0.0), 1e6) AS kappa
            FROM prior
        )
        SELECT p.custkey, p.n, p.x,
               ROUND(p.x * 1.0 / p.n, 6)                          AS raw_rate,
               ROUND((p.x + kap.kappa * kap.m)
                     / (p.n + kap.kappa), 6)                      AS eb_rate,
               ROUND(kap.m, 6)                                    AS pooled_m,
               ROUND(kap.kappa, 4)                                AS kappa
        FROM per p CROSS JOIN kap
        ORDER BY p.n, p.custkey LIMIT {_EB_SHOW}
    """,
    tags=("stats", "robust", "inference", "orders", "customer"),
)
def stats_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-customer urgent-order rates
    (beta-binomial method of moments, Kleinman's weighted-ANOVA
    between-group variance): small-sample customers shrink hard toward
    the pooled rate, high-volume customers keep their own signal — the
    standard fix for ranking rates computed from unequal denominators.
    Shown: the {_EB_SHOW} thinnest customers (deterministic integer
    ordering), where shrinkage is strongest.

    100 TB design: one per-key aggregate over the fact table, one
    5-number pooled frame (broadcast), and a map-only shrink — the
    same one-fact-pass + tiny-frame shape as stats_ipw_ate. The only
    non-integer aggregate is Σx²/n (double); every downstream quantity
    rounds AFTER identical double algebra in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    pool = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("sn"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x") * 1.0 / F.col("n")).alias("sxx"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    m = F.col("sx") * 1.0 / F.col("sn")
    v_raw = (F.col("sxx") - m * F.col("sx")) / F.nullif(
        F.col("sn") - F.col("snn") * 1.0 / F.col("sn"), F.lit(0.0)
    )
    kap = pool.select(
        m.alias("m"),
        F.least(
            F.greatest(
                F.when(v_raw > 0, m * (1 - m) / v_raw - 1).otherwise(
                    F.lit(1e6)
                ),
                F.lit(0.0),
            ),
            F.lit(1e6),
        ).alias("kappa"),
    )
    return (
        per.crossJoin(F.broadcast(kap))
        .select(
            "custkey",
            "n",
            "x",
            F.round(F.col("x") * 1.0 / F.col("n"), 6).alias("raw_rate"),
            F.round(
                (F.col("x") + F.col("kappa") * F.col("m"))
                / (F.col("n") + F.col("kappa")),
                6,
            ).alias("eb_rate"),
            F.round(F.col("m"), 6).alias("pooled_m"),
            F.round(F.col("kappa"), 4).alias("kappa"),
        )
        .orderBy("n", "custkey")
        .limit(_EB_SHOW)
    )


# --- Permutation (randomization) test --------------------------------

PERM_REPLICATES = 64
PERM_OFFSET = 777_777  # decorrelates the counter stream from the bootstrap


@query(
    "stats_permutation_test",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey,
                   o_custkey % 2 AS arm,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        obs AS (
            SELECT ROUND(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) / 100.0
                         / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                       - SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END) / 100.0
                         / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 6)
                       AS obs_diff
            FROM base
        ),
        rows_r AS (
            SELECT b.cents,
                   r.rep,
                   CASE WHEN ((({LCG_A} * (({LCG_A} * ((b.o_orderkey
                            * {PERM_REPLICATES} + r.rep + {PERM_OFFSET})
                            % {LCG_M}) + {LCG_C}) % {LCG_M})
                          + {LCG_C}) % {LCG_M}) / {float(LCG_M)!r}) < 0.5
                        THEN 0 ELSE 1 END AS side
            FROM base b
            CROSS JOIN (SELECT UNNEST(generate_series(0,
                            {PERM_REPLICATES - 1})) AS rep) r
        ),
        per_rep AS (
            SELECT rep,
                   ROUND(SUM(CASE WHEN side = 1 THEN cents ELSE 0 END) / 100.0
                         / SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                       - SUM(CASE WHEN side = 0 THEN cents ELSE 0 END) / 100.0
                         / SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END), 6)
                       AS d
            FROM rows_r GROUP BY rep
            HAVING SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) > 0
               AND SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) > 0
        ),
        nulls AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
                   SUM(d) AS s1, SUM(d * d) AS s2,
                   SUM(CASE WHEN ABS(d) >= ABS(o.obs_diff)
                       THEN 1 ELSE 0 END) AS n_ge
            FROM per_rep, obs o
        )
        SELECT n_perms,
               ROUND(o.obs_diff, 4) AS obs_diff,
               ROUND(s1 / n_perms, 4) AS null_mean,
               ROUND(SQRT((s2 - s1 * s1 / n_perms) / (n_perms - 1)), 4)
                   AS null_sd,
               ROUND((1.0 + n_ge) / (1.0 + n_perms), 4) AS p_value
        FROM nulls, obs o
    """,
    tags=("stats", "resampling", "permutation", "experiment", "orders"),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo permutation (randomization) test for the difference
    in mean order value between two arms (``o_custkey % 2``): each of
    64 replicates independently reassigns every row to a pseudo-arm
    with probability 1/2 (the binomial/Dwass approximation to exact
    label permutation — the only form that exists at 100 TB, where a
    true shuffle of labels is a global sort), recomputes the mean
    difference, and the p-value is the add-one-smoothed fraction of
    null replicates at least as extreme as the observed difference.

    Determinism: reassignment draws come from the same counter-based
    two-round glibc LCG as the Poisson bootstrap, keyed on
    (o_orderkey, rep) with a fixed stream offset, so both engines
    materialize bit-identical pseudo-arms; per-replicate differences
    are exact-cent means rounded to 6 dp BEFORE the knife-edge
    |d| >= |obs| comparison, making the exceedance count itself
    engine-stable.

    Scale shape: one explode(x64) over a two-column projection;
    map-side combine folds the blow-up to 64x2 partials per task; the
    64-row null table reduces to explicit moments + an exceedance
    count. No per-replicate rescans, no global label shuffle.

    Reference analog: upgrades the single-split accuracy comparison of
    /root/reference/src/voice_classifier.py:232-265 to a significance
    statement, the way model A/B evaluation is actually shipped.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.select(
        F.col("o_orderkey"),
        (F.col("o_custkey") % 2).alias("arm"),
        cents.alias("cents"),
    )
    s_arm = lambda a: F.sum(F.when(F.col("arm") == a, F.col("cents")).otherwise(0))  # noqa: E731
    n_arm = lambda a: F.sum(F.when(F.col("arm") == a, 1).otherwise(0))  # noqa: E731
    obs = base.agg(
        F.round(
            s_arm(1) / 100.0 / n_arm(1) - s_arm(0) / 100.0 / n_arm(0), 6
        ).alias("obs_diff")
    )
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(PERM_REPLICATES - 1))
    ).alias("rep")
    rows_r = base.select("o_orderkey", "cents", rep)
    s0 = (
        F.col("o_orderkey") * PERM_REPLICATES + F.col("rep") + PERM_OFFSET
    ) % F.lit(LCG_M)
    x1 = (F.lit(LCG_A) * s0 + F.lit(LCG_C)) % F.lit(LCG_M)
    x2 = (F.lit(LCG_A) * x1 + F.lit(LCG_C)) % F.lit(LCG_M)
    side = F.when(x2 / F.lit(float(LCG_M)) < 0.5, 0).otherwise(1)
    s_side = lambda a: F.sum(F.when(F.col("side") == a, F.col("cents")).otherwise(0))  # noqa: E731
    n_side = lambda a: F.sum(F.when(F.col("side") == a, 1).otherwise(0))  # noqa: E731
    per_rep = (
        rows_r.select("rep", "cents", side.alias("side"))
        .groupBy("rep")
        .agg(
            s_side(1).alias("s1c"), n_side(1).alias("n1"),
            s_side(0).alias("s0c"), n_side(0).alias("n0"),
        )
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
        .select(
            F.round(
                F.col("s1c") / 100.0 / F.col("n1")
                - F.col("s0c") / 100.0 / F.col("n0"),
                6,
            ).alias("d")
        )
    )
    nulls = per_rep.crossJoin(F.broadcast(obs)).agg(
        F.count("*").cast("bigint").alias("n_perms"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d") * F.col("d")).alias("s2"),
        F.sum(
            F.when(F.abs(F.col("d")) >= F.abs(F.col("obs_diff")), 1).otherwise(0)
        ).alias("n_ge"),
        F.first("obs_diff").alias("obs_diff"),
    )
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_perms"))
        / (F.col("n_perms") - 1)
    )
    return nulls.select(
        "n_perms",
        F.round(F.col("obs_diff"), 4).alias("obs_diff"),
        F.round(F.col("s1") / F.col("n_perms"), 4).alias("null_mean"),
        F.round(sd, 4).alias("null_sd"),
        F.round(
            (1.0 + F.col("n_ge")) / (1.0 + F.col("n_perms")), 4
        ).alias("p_value"),
    )


# --- Log-rank test (two-group survival comparison) --------------------


@query(
    "stats_logrank_test",
    oracle=f"""
        WITH horizon AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
        ),
        subj AS (
            SELECT o_custkey % 2 AS g,
                   date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                             MAX(CAST(o_orderdate AS DATE))) AS duration,
                   CASE WHEN date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                                       MAX(h.maxd)) > {KM_CENSOR_DAYS}
                        THEN 1 ELSE 0 END AS event
            FROM orders CROSS JOIN horizon h
            GROUP BY o_custkey % 2, o_custkey
        ),
        ng AS (SELECT g, COUNT(*) AS n_subj FROM subj GROUP BY g),
        steps AS (
            SELECT g, duration AS t, SUM(event) AS d, COUNT(*) AS leaving
            FROM subj GROUP BY g, duration
        ),
        grid AS (
            SELECT t, g.g, n.n_subj FROM (SELECT DISTINCT t FROM steps)
            CROSS JOIN (SELECT UNNEST([0, 1]) AS g) g
            JOIN ng n ON n.g = g.g
        ),
        risk AS (
            SELECT gr.t, gr.g,
                   COALESCE(s.d, 0) AS d,
                   gr.n_subj - COALESCE(SUM(COALESCE(s.leaving, 0)) OVER (
                       PARTITION BY gr.g ORDER BY gr.t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS n_risk
            FROM grid gr LEFT JOIN steps s ON s.g = gr.g AND s.t = gr.t
        ),
        pooled AS (
            SELECT t,
                   SUM(d) AS dt, SUM(n_risk) AS nt,
                   SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS d1,
                   SUM(CASE WHEN g = 1 THEN n_risk ELSE 0 END) AS n1
            FROM risk GROUP BY t
        ),
        terms AS (
            SELECT CAST(SUM(d1) AS BIGINT) AS o1,
                   SUM(dt * (CAST(n1 AS DOUBLE) / nt)) AS e1,
                   SUM(dt * (CAST(n1 AS DOUBLE) / nt)
                       * (1.0 - CAST(n1 AS DOUBLE) / nt)
                       * (nt - dt) / (nt - 1)) AS v
            FROM pooled WHERE dt > 0 AND nt > 1
        )
        SELECT o1,
               ROUND(e1, 6) AS e1,
               ROUND(v, 6) AS var_logrank,
               ROUND((o1 - e1) / SQRT(v), 4) AS z,
               ROUND(POWER(o1 - e1, 2) / v, 4) AS chi2,
               CAST(ABS((o1 - e1) / SQRT(v)) > {Z95_TWO_SIDED!r}
                    AS BOOLEAN) AS reject_h0
        FROM terms
    """,
    tags=("stats", "survival", "hypothesis-test", "window", "orders"),
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing churn survival between the
    two hash arms ``o_custkey % 2`` over the same subject construction
    as ``stats_kaplan_meier`` (duration = first-to-last-order days,
    censored inside the 60-day horizon). At each pooled event time the
    hypergeometric moments accumulate O-E and its variance; the
    decision is the fixed ±1.959964 two-sided gate.

    Shape: one per-customer collapse of orders (the only fact-sized
    shuffle), a per-arm duration aggregate, and the at-risk
    reconstruction on a (distinct-duration × 2) grid — calendar-
    bounded, so every window after the collapse runs over spine-sized
    input. Times with a single subject at risk are excluded on both
    engines (their O-E contribution is identically zero but the
    variance term degenerates).

    Reference analog: extends the KM family the same way
    stats_nelson_aalen does — the comparison test a churn analysis at
    100 TB actually publishes.
    """
    o = load_table(spark, sf_dir, "orders")
    maxd = F.broadcast(
        o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    )
    subj = (
        o.crossJoin(maxd)
        .groupBy((F.col("o_custkey") % 2).alias("g"), "o_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("duration"),
            F.when(
                F.datediff(
                    F.max("maxd"), F.max(F.col("o_orderdate").cast("date"))
                )
                > KM_CENSOR_DAYS,
                1,
            )
            .otherwise(0)
            .alias("event"),
        )
    )
    ng = subj.groupBy("g").agg(F.count("*").alias("n_subj"))
    steps = subj.groupBy("g", F.col("duration").alias("t")).agg(
        F.sum("event").alias("d"), F.count("*").alias("leaving")
    )
    grid = (
        steps.select("t")
        .distinct()
        .crossJoin(F.broadcast(spark.range(2).select(F.col("id").alias("g"))))
        .join(F.broadcast(ng), "g")
    )
    w_prev = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        grid.join(steps, ["g", "t"], "left")
        .select(
            "t",
            "g",
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            (
                F.col("n_subj")
                - F.coalesce(
                    F.sum(F.coalesce(F.col("leaving"), F.lit(0))).over(w_prev),
                    F.lit(0),
                )
            ).alias("n_risk"),
        )
    )
    pooled = risk.groupBy("t").agg(
        F.sum("d").alias("dt"),
        F.sum("n_risk").alias("nt"),
        F.sum(F.when(F.col("g") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("g") == 1, F.col("n_risk")).otherwise(0)).alias(
            "n1"
        ),
    )
    frac = F.col("n1").cast("double") / F.col("nt")
    terms = pooled.where((F.col("dt") > 0) & (F.col("nt") > 1)).agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(F.col("dt") * frac).alias("e1"),
        F.sum(
            F.col("dt")
            * frac
            * (1.0 - frac)
            * (F.col("nt") - F.col("dt"))
            / (F.col("nt") - 1)
        ).alias("v"),
    )
    z = (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v"))
    return terms.select(
        "o1",
        F.round(F.col("e1"), 6).alias("e1"),
        F.round(F.col("v"), 6).alias("var_logrank"),
        F.round(z, 4).alias("z"),
        F.round(F.pow(F.col("o1") - F.col("e1"), 2) / F.col("v"), 4).alias(
            "chi2"
        ),
        (F.abs(z) > Z95_TWO_SIDED).alias("reject_h0"),
    )


# --- Delete-one-bucket jackknife for a ratio metric --------------------

JK_BUCKETS = 20


@query(
    "stats_jackknife_ratio",
    oracle=f"""
        WITH buckets AS (
            SELECT o_custkey % {JK_BUCKETS} AS g,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM orders GROUP BY o_custkey % {JK_BUCKETS}
        ),
        tot AS (SELECT SUM(s) AS st, SUM(n) AS nt FROM buckets),
        loo AS (
            SELECT b.g,
                   ROUND((t.st - b.s) / 100.0 / (t.nt - b.n), 6) AS theta_g
            FROM buckets b CROSS JOIN tot t
        ),
        -- s1/s2 via the SEQUENTIAL g-ordered fold: a cross-row float
        -- SUM is order-dependent in the last ULP, and the jackknife
        -- variance subtracts two ~1e12 moments to get ~1e6 — a 1-ULP
        -- fold difference flips jk_se's 6th decimal (first seen at
        -- sf0.1 magnitudes, r09; the audio_energy_flatness class)
        jk AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS gn,
                   list_sum(list(theta_g ORDER BY g)) AS s1,
                   list_sum(list(theta_g * theta_g ORDER BY g)) AS s2
            FROM loo
        )
        SELECT gn AS n_buckets,
               ROUND(t.st / 100.0 / t.nt, 6) AS theta,
               ROUND((gn - 1) * (s1 / gn - t.st / 100.0 / t.nt), 6)
                   AS jk_bias,
               ROUND(SQRT((gn - 1.0) / gn * (s2 - s1 * s1 / gn)), 6)
                   AS jk_se,
               ROUND(t.st / 100.0 / t.nt
                     - {Z95_TWO_SIDED!r} * SQRT((gn - 1.0) / gn
                           * (s2 - s1 * s1 / gn)), 4) AS ci_lo,
               ROUND(t.st / 100.0 / t.nt
                     + {Z95_TWO_SIDED!r} * SQRT((gn - 1.0) / gn
                           * (s2 - s1 * s1 / gn)), 4) AS ci_hi
        FROM jk, tot t
    """,
    tags=("stats", "resampling", "jackknife", "orders"),
)
def stats_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife CI for a RATIO metric (mean order
    value = Σprice/Σcount): customers hash into 20 buckets; each
    leave-one-out replicate re-evaluates the ratio from the remaining
    buckets' (sum, count) partials; the jackknife variance
    (G-1)/G · Σ(θ₍g₎-θ̄)² and bias (G-1)(θ̄-θ̂) close the interval.

    Ratio metrics are where naive per-row variance formulas are WRONG
    (the denominator is random too) — the bucketed jackknife is the
    standard production answer because it needs only G (sum, count)
    partials: one map-side-combined groupBy over the fact table, a
    broadcast totals row, and a 20-row moment pass. No row-level
    resampling, no second scan; the same partials serve any ratio.
    Leave-one-out ratios are rounded to 6 dp before the moment
    aggregate (the repo's partial-rounding idiom), so both engines
    square identical values.

    Complements stats_poisson_bootstrap_ci (row-resampling) and
    stats_permutation_test (label-randomization) with the third
    classical resampling family, each in its 100 TB-shaped form.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    buckets = o.groupBy((F.col("o_custkey") % JK_BUCKETS).alias("g")).agg(
        F.sum(cents).alias("s"), F.count("*").alias("n")
    )
    tot = buckets.agg(F.sum("s").alias("st"), F.sum("n").alias("nt"))
    loo = buckets.crossJoin(F.broadcast(tot)).select(
        "g",
        F.round(
            (F.col("st") - F.col("s")) / 100.0 / (F.col("nt") - F.col("n")),
            6,
        ).alias("theta_g"),
        "st",
        "nt",
    )
    # s1/s2 via the SEQUENTIAL g-ordered fold (see oracle comment): the
    # variance is a catastrophic cancellation of ~1e12 moments, so fold
    # order must be pinned on both engines.
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("g", "theta_g"))),
        lambda s: s["theta_g"],
    )
    jk = loo.agg(
        F.count("*").cast("bigint").alias("gn"),
        F.aggregate(ordered, F.lit(0.0), lambda a, x: a + x).alias("s1"),
        F.aggregate(ordered, F.lit(0.0), lambda a, x: a + x * x).alias("s2"),
        F.first("st").alias("st"),
        F.first("nt").alias("nt"),
    )
    theta = F.col("st") / 100.0 / F.col("nt")
    gn = F.col("gn")
    se = F.sqrt(
        (gn - 1.0) / gn * (F.col("s2") - F.col("s1") * F.col("s1") / gn)
    )
    return jk.select(
        gn.alias("n_buckets"),
        F.round(theta, 6).alias("theta"),
        F.round((gn - 1) * (F.col("s1") / gn - theta), 6).alias("jk_bias"),
        F.round(se, 6).alias("jk_se"),
        F.round(theta - Z95_TWO_SIDED * se, 4).alias("ci_lo"),
        F.round(theta + Z95_TWO_SIDED * se, 4).alias("ci_hi"),
    )


# --- Sequential probability ratio test (early stopping) -----------------

SPRT_LLR_S = 0.154150679827   # ln(0.35/0.30), H1 vs H0 success term
SPRT_LLR_F = -0.074107972154  # ln(0.65/0.70), failure term
SPRT_A = 2.944438979166       # ln((1-beta)/alpha), alpha=beta=0.05
SPRT_B = -2.944438979166


@query(
    "stats_sprt_sequential",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                        AS BIGINT) AS s
            FROM orders GROUP BY 1
        ),
        walk AS (
            SELECT d,
                   SUM(n) OVER w AS cn, SUM(s) OVER w AS cs,
                   ROUND(SUM(s) OVER w * CAST({SPRT_LLR_S!r} AS DOUBLE)
                         + (SUM(n) OVER w - SUM(s) OVER w)
                           * CAST({SPRT_LLR_F!r} AS DOUBLE), 6) AS llr
            FROM daily
            WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
        ),
        crossing AS (
            SELECT d, cn, llr,
                   CASE WHEN llr >= {SPRT_A!r} THEN 'accept_h1'
                        ELSE 'accept_h0' END AS decision
            FROM walk
            WHERE llr >= {SPRT_A!r} OR llr <= {SPRT_B!r}
            ORDER BY d LIMIT 1
        ),
        final AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   MAX_BY(CAST(llr AS DOUBLE), d) AS final_llr
            FROM walk
        )
        SELECT f.n_days,
               CAST(c.d AS VARCHAR) AS decision_day,
               COALESCE(c.decision, 'continue') AS decision,
               c.llr AS llr_at_decision,
               CAST(c.cn AS BIGINT) AS trials_at_decision,
               ROUND(f.final_llr, 6) AS final_llr
        FROM final f LEFT JOIN crossing c ON TRUE
    """,
    tags=("stats", "experiment", "sequential", "window", "orders"),
)
def stats_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test, replayed over the
    order stream day by day: is the fulfillment rate 0.35 (H1) or 0.30
    (H0)? The cumulative log-likelihood ratio walk cs·ln(p1/p0) +
    cf·ln(q1/q0) stops at the FIRST day it exits (ln 19, −ln 19) —
    the α=β=0.05 Wald boundaries — reporting the decision, the day,
    and how many trials early stopping saved relative to the full
    horizon. THE sequential-testing primitive behind modern "peeking-
    safe" A/B platforms.

    Determinism: per-day (trials, successes) are exact integers; the
    two log-likelihood increments and both boundaries are SHARED
    ROUND-TRIP LITERALS (the harmonic-fit idiom — no runtime ln()
    whose last ulp could differ between libm and the JVM), and the
    walk is rounded to 6 dp before the boundary comparisons, making
    the knife-edge crossing day itself engine-stable. One fact
    aggregation to the day spine; the walk is a spine-sized window.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("s"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = daily.select(
        "d",
        F.sum("n").over(w).alias("cn"),
        F.round(
            F.sum("s").over(w) * SPRT_LLR_S
            + (F.sum("n").over(w) - F.sum("s").over(w)) * SPRT_LLR_F,
            6,
        ).alias("llr"),
    )
    crossing = (
        walk.where((F.col("llr") >= SPRT_A) | (F.col("llr") <= SPRT_B))
        .orderBy("d")
        .limit(1)
        .select(
            F.col("d").cast("string").alias("decision_day"),
            F.col("cn").alias("trials_at_decision"),
            F.col("llr").alias("llr_at_decision"),
            F.when(F.col("llr") >= SPRT_A, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )
    final = walk.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.max_by("llr", "d"), 6).alias("final_llr"),
    )
    return final.join(F.broadcast(crossing), F.lit(True), "left").select(
        "n_days",
        "decision_day",
        F.coalesce(F.col("decision"), F.lit("continue")).alias("decision"),
        "llr_at_decision",
        "trials_at_decision",
        "final_llr",
    )


# --- Restricted mean survival time (area under the KM curve) ------------

RMST_TAU = 365  # horizon, days


@query(
    "stats_rmst",
    oracle=f"""
        WITH horizon AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
        ),
        subj AS (
            SELECT o_custkey % 2 AS g,
                   date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                             MAX(CAST(o_orderdate AS DATE))) AS duration,
                   CASE WHEN date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                                       MAX(h.maxd)) > {KM_CENSOR_DAYS}
                        THEN 1 ELSE 0 END AS event
            FROM orders CROSS JOIN horizon h
            GROUP BY o_custkey % 2, o_custkey
        ),
        ng AS (SELECT g, COUNT(*) AS n_subj FROM subj GROUP BY g),
        steps AS (
            SELECT g, duration AS t, SUM(event) AS d, COUNT(*) AS leaving
            FROM subj GROUP BY g, duration
        ),
        risk AS (
            SELECT s.g, s.t, s.d,
                   n.n_subj - COALESCE(SUM(s.leaving) OVER (
                       PARTITION BY s.g ORDER BY s.t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS n_risk
            FROM steps s JOIN ng n ON n.g = s.g
        ),
        km AS (
            SELECT g, t,
                   ROUND(EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / n_risk)) OVER (
                       PARTITION BY g ORDER BY t)), 6) AS s_km
            FROM risk WHERE d > 0 AND t <= {RMST_TAU}
        ),
        segs AS (
            SELECT g, t, s_km,
                   COALESCE(LAG(t) OVER (PARTITION BY g ORDER BY t), 0)
                       AS t_prev,
                   COALESCE(LAG(s_km) OVER (PARTITION BY g ORDER BY t), 1.0)
                       AS s_prev
            FROM km
        ),
        area AS (
            SELECT g,
                   SUM(s_prev * (t - t_prev)) AS auc_events,
                   MAX_BY(s_km, t) AS s_last,
                   MAX(t) AS t_last
            FROM segs GROUP BY g
        )
        SELECT CAST(n.g AS BIGINT) AS g,
               ROUND(COALESCE(a.auc_events, 0)
                     + COALESCE(a.s_last, 1.0)
                       * ({RMST_TAU} - COALESCE(a.t_last, 0)), 4) AS rmst,
               ROUND(COALESCE(a.s_last, 1.0), 6) AS s_at_last_event,
               CAST(COALESCE(a.t_last, 0) AS BIGINT) AS last_event_t
        FROM ng n LEFT JOIN area a ON a.g = n.g ORDER BY n.g
    """,
    tags=("stats", "survival", "window", "orders"),
)
def stats_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time per hash arm: the area under the
    Kaplan-Meier step curve up to τ = 365 days — "expected days
    retained within the first year", the clinically-preferred survival
    summary when hazards are non-proportional (and the natural effect
    size to pair with stats_logrank_test's significance).

    The step-function integral is exact: each inter-event segment
    contributes S(previous)·Δt (LAG over the event-time spine), plus
    the tail S(last)·(τ − t_last). Same single fact collapse and
    spine-sized windows as the KM family; S values reuse the
    exp-sum-log product-limit idiom rounded at the same 6 dp the KM
    query publishes.
    """
    o = load_table(spark, sf_dir, "orders")
    maxd = F.broadcast(
        o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    )
    subj = (
        o.crossJoin(maxd)
        .groupBy((F.col("o_custkey") % 2).alias("g"), "o_custkey")
        .agg(
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("duration"),
            F.when(
                F.datediff(
                    F.max("maxd"), F.max(F.col("o_orderdate").cast("date"))
                )
                > KM_CENSOR_DAYS,
                1,
            )
            .otherwise(0)
            .alias("event"),
        )
    )
    ng = subj.groupBy("g").agg(F.count("*").alias("n_subj"))
    steps = subj.groupBy("g", F.col("duration").alias("t")).agg(
        F.sum("event").alias("d"), F.count("*").alias("leaving")
    )
    w_prev = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = steps.join(F.broadcast(ng), "g").select(
        "g",
        "t",
        "d",
        (
            F.col("n_subj")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    w_cum = Window.partitionBy("g").orderBy("t")
    km = (
        risk.where((F.col("d") > 0) & (F.col("t") <= RMST_TAU))
        .select(
            "g",
            "t",
            F.round(
                F.exp(
                    F.sum(
                        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
                    ).over(w_cum)
                ),
                6,
            ).alias("s_km"),
        )
    )
    segs = km.select(
        "g",
        "t",
        "s_km",
        F.coalesce(F.lag("t").over(w_cum), F.lit(0)).alias("t_prev"),
        F.coalesce(F.lag("s_km").over(w_cum), F.lit(1.0)).alias("s_prev"),
    )
    area = segs.groupBy("g").agg(
        F.sum(F.col("s_prev") * (F.col("t") - F.col("t_prev"))).alias(
            "auc_events"
        ),
        F.max_by("s_km", "t").alias("s_last"),
        F.max("t").alias("t_last"),
    )
    # arms with NO event inside tau still report: survival stays 1,
    # so rmst = tau (left join against the arm census, not the events)
    return (
        ng.select("g")
        .join(area, "g", "left")
        .select(
            F.col("g").cast("bigint").alias("g"),
            F.round(
                F.coalesce(F.col("auc_events"), F.lit(0.0))
                + F.coalesce(F.col("s_last"), F.lit(1.0))
                * (RMST_TAU - F.coalesce(F.col("t_last"), F.lit(0))),
                4,
            ).alias("rmst"),
            F.round(F.coalesce(F.col("s_last"), F.lit(1.0)), 6).alias(
                "s_at_last_event"
            ),
            F.coalesce(F.col("t_last"), F.lit(0))
            .cast("bigint")
            .alias("last_event_t"),
        )
        .orderBy("g")
    )


# --- round-7 spare carrier: difference-in-differences --------------------

DID_CUTOVER = "2024-01-16 00:00:00"  # pre/post boundary (mid-window)


@query(
    "stats_did_estimator",
    oracle=f"""
        WITH cells AS (
            SELECT CAST(user_id % 2 = 0 AS INTEGER) AS treated,
                   CAST(ts >= TIMESTAMP '{DID_CUTOVER}' AS INTEGER) AS post,
                   AVG(value) AS ybar,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            GROUP BY 1, 2
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN treated = 1 AND post = 1 THEN ybar END) AS t_post,
                MAX(CASE WHEN treated = 1 AND post = 0 THEN ybar END) AS t_pre,
                MAX(CASE WHEN treated = 0 AND post = 1 THEN ybar END) AS c_post,
                MAX(CASE WHEN treated = 0 AND post = 0 THEN ybar END) AS c_pre,
                CAST(SUM(n) AS BIGINT) AS n_total
            FROM cells
        )
        SELECT ROUND(t_pre, 6)  AS treated_pre,
               ROUND(t_post, 6) AS treated_post,
               ROUND(c_pre, 6)  AS control_pre,
               ROUND(c_post, 6) AS control_post,
               ROUND((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate,
               n_total
        FROM wide
    """,
    tags=("stats", "experiment", "causal", "inference", "events"),
)
def stats_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES: the 2×2 (treated × pre/post) cell
    means and the DiD estimate (Δtreated − Δcontrol) — the canonical
    quasi-experimental effect estimator under parallel trends
    (propensity-weighted sibling: ``stats_ipw_ate``; assignment here
    is the deterministic user_id parity so both engines agree on
    membership). ONE aggregation pass builds all four cells
    (map-side-combined), the pivot is a 4-row reshape — scale-free
    output at any fact size."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.col("user_id") % 2 == 0).cast("int").alias("treated"),
        (F.col("ts") >= F.lit(DID_CUTOVER).cast("timestamp"))
        .cast("int")
        .alias("post"),
    ).agg(F.avg("value").alias("ybar"), F.count(F.lit(1)).alias("n"))

    def cell(t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p),
                   F.col("ybar"))
        )

    return cells.agg(
        F.round(cell(1, 0), 6).alias("treated_pre"),
        F.round(cell(1, 1), 6).alias("treated_post"),
        F.round(cell(0, 0), 6).alias("control_pre"),
        F.round(cell(0, 1), 6).alias("control_post"),
        F.round(
            (cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0)), 6
        ).alias("did_estimate"),
        F.sum("n").cast("bigint").alias("n_total"),
    )


# --- round-8 spare: regression-discontinuity (sharp, local means) -------

RDD_CUTOFF = 150000.0  # running variable: order total; treatment above
RDD_BANDWIDTH = 30000.0


@query(
    "stats_rdd_local_means",
    oracle=f"""
        WITH w AS (
            SELECT o_totalprice AS x,
                   CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS INTEGER)
                       AS y
            FROM orders
            WHERE o_totalprice >= {RDD_CUTOFF} - {RDD_BANDWIDTH}
              AND o_totalprice <  {RDD_CUTOFF} + {RDD_BANDWIDTH}
        )
        SELECT CAST(COUNT(*) FILTER (WHERE x < {RDD_CUTOFF}) AS BIGINT)
                   AS n_below,
               CAST(COUNT(*) FILTER (WHERE x >= {RDD_CUTOFF}) AS BIGINT)
                   AS n_above,
               ROUND(AVG(y) FILTER (WHERE x < {RDD_CUTOFF}), 6)  AS mean_below,
               ROUND(AVG(y) FILTER (WHERE x >= {RDD_CUTOFF}), 6) AS mean_above,
               ROUND(AVG(y) FILTER (WHERE x >= {RDD_CUTOFF})
                     - AVG(y) FILTER (WHERE x < {RDD_CUTOFF}), 6)
                   AS jump_estimate
        FROM w
    """,
    tags=("stats", "experiment", "causal", "inference", "orders"),
)
def stats_rdd_local_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp REGRESSION DISCONTINUITY (local-means form): compare the
    outcome mean just below vs just above a cutoff in the running
    variable, inside a fixed bandwidth — the jump at the threshold is
    the causal estimate when assignment flips deterministically at the
    cutoff (panel sibling: ``stats_did_estimator``; weighting sibling:
    ``stats_ipw_ate``). One filtered scan + conditional aggregates —
    the bandwidth filter pushes to the parquet reader, so at 100 TB
    the plan touches only the cutoff neighborhood."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= RDD_CUTOFF - RDD_BANDWIDTH)
        & (F.col("o_totalprice") < RDD_CUTOFF + RDD_BANDWIDTH)
    )
    y = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    below = F.col("o_totalprice") < RDD_CUTOFF
    w = o.select(F.col("o_totalprice").alias("x"), y.alias("y"))
    mean_b = F.avg(F.when(below_x := (F.col("x") < RDD_CUTOFF), F.col("y")))
    mean_a = F.avg(F.when(~below_x, F.col("y")))
    return w.agg(
        F.count(F.when(below_x, 1)).cast("bigint").alias("n_below"),
        F.count(F.when(~below_x, 1)).cast("bigint").alias("n_above"),
        F.round(mean_b, 6).alias("mean_below"),
        F.round(mean_a, 6).alias("mean_above"),
        F.round(mean_a - mean_b, 6).alias("jump_estimate"),
    )
