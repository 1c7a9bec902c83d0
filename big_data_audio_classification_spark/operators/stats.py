"""Extended statistical/aggregate surface: built-in linear regression
aggregates, distribution-shape moments (skewness/kurtosis/median),
bitwise + boolean aggregates, deterministic max_by/min_by, the
cume_dist/nth_value window tail, higher-order array predicates, and a
second date/time battery.

These widen SURVEY §2.B's aggregate/window/scalar families with the
functions an analyst migrating off the reference's pandas surface
(`/root/reference/src/voice_classifier.py:107` count plots,
`:150-153` feature scoring) reaches for next: trend fits (regr_*),
shape diagnostics, and calendar math.

Scale notes:
* Every aggregate here is algebraic (sum/count/moment compositions) →
  map-side partial aggregation applies; one shuffle on the group key,
  no per-group buffering anywhere.
* Skewness/kurtosis are computed by Spark's single-pass moment
  aggregates; the oracle reproduces the same population-moment
  definitions from first principles (AVG of centered powers) because
  DuckDB's built-ins use bias-corrected sample moments — a documented
  cross-engine semantic divergence, aligned via explicit math.
* max_by/min_by order by the UNIQUE o_orderkey: ordering-value ties
  make arg-extrema nondeterministic in any engine (o_totalprice has
  real ties at sf0.1), so unique-key ordering is the portable form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.constants import Z95_TWO_SIDED
from big_data_audio_classification_spark.functions.ranks import (
    prefix_sums,
    values_at_ranks,
)
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table


@query(
    "agg_regression_by_flag",
    oracle="""
        SELECT l_returnflag,
               ROUND(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
               ROUND(regr_r2(l_extendedprice, l_quantity), 8)        AS r2,
               ROUND(regr_avgx(l_extendedprice, l_quantity), 6)      AS avg_x,
               ROUND(regr_avgy(l_extendedprice, l_quantity), 6)      AS avg_y,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("aggregate", "stats", "regression"),
)
def agg_regression_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in OLS aggregates (price vs quantity trend per return
    flag): regr_slope/intercept/r2/avgx/avgy/count. All algebraic —
    single-pass partial aggregation, one shuffle on the 3-value key."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 8).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
        F.regr_count(y, x).alias("n"),
    )


@query(
    "agg_distribution_shape",
    oracle="""
        WITH m AS (
            SELECT l_returnflag,
                   AVG(l_extendedprice)        AS mu,
                   var_pop(l_extendedprice)    AS m2
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l.l_returnflag,
               ROUND(AVG(POWER(l_extendedprice - mu, 3)) / POWER(m2, 1.5), 6)
                   AS skew_pop,
               ROUND(AVG(POWER(l_extendedprice - mu, 4)) / POWER(m2, 2) - 3, 6)
                   AS kurt_pop,
               ROUND(median(l_extendedprice), 6)        AS med_price,
               ROUND(stddev_pop(l_extendedprice), 6)    AS sd_pop
        FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        GROUP BY l.l_returnflag, mu, m2
    """,
    tags=("aggregate", "stats", "moments"),
)
def agg_distribution_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape diagnostics per group: population skewness
    (m3/m2^1.5), excess kurtosis (m4/m2^2 - 3), interpolated median,
    population stddev. Spark's skewness/kurtosis ARE these population
    moments in one pass; DuckDB's built-ins are bias-corrected sample
    moments, so the oracle derives the same definitions from AVG of
    centered powers (two-pass over a 3-row broadcast of group means)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.skewness(p), 6).alias("skew_pop"),
        F.round(F.kurtosis(p), 6).alias("kurt_pop"),
        F.round(F.median(p), 6).alias("med_price"),
        F.round(F.stddev_pop(p), 6).alias("sd_pop"),
    )


@query(
    "agg_bitwise_boolean",
    oracle="""
        SELECT l_linestatus,
               bit_and(l_orderkey)                         AS key_and,
               bit_or(l_orderkey)                          AS key_or,
               bit_xor(l_orderkey)                         AS key_xor,
               bool_and(l_quantity > 0)                    AS all_positive,
               bool_or(l_discount > 0.09)                  AS any_deep_discount,
               CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
               ROUND(EXP(AVG(LN(l_quantity))), 6)          AS geo_mean_qty
        FROM lineitem
        GROUP BY l_linestatus
    """,
    tags=("aggregate", "bitwise", "boolean"),
)
def agg_bitwise_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise (bit_and/or/xor) and boolean (bool_and/bool_or/count_if)
    aggregates, plus the exp(avg(ln)) geometric-mean pattern — the
    numerically-stable product aggregate (a naive product overflows at
    any real row count). DuckDB's count_if returns HUGEINT → cast."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.bit_and("l_orderkey").alias("key_and"),
        F.bit_or("l_orderkey").alias("key_or"),
        F.bit_xor("l_orderkey").alias("key_xor"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.round(F.exp(F.avg(F.ln("l_quantity"))), 6).alias("geo_mean_qty"),
    )


@query(
    "agg_maxby_minby",
    oracle="""
        SELECT o_orderstatus,
               STRFTIME(max_by(o_orderdate, o_orderkey), '%Y-%m-%d')
                   AS latest_key_date,
               STRFTIME(min_by(o_orderdate, o_orderkey), '%Y-%m-%d')
                   AS earliest_key_date,
               max_by(o_totalprice, o_orderkey) AS latest_key_price,
               max_by(o_custkey, o_orderkey)    AS latest_key_cust
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("aggregate", "argextrema"),
)
def agg_maxby_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extrema aggregates: the value of one column at the row where
    another column is extremal — without a self-join or window. Ordered
    by the UNIQUE o_orderkey for cross-engine determinism (ties in the
    ordering value make max_by unspecified in both engines;
    o_totalprice genuinely ties at sf0.1)."""
    o = load_table(spark, sf_dir, "orders")
    # dates formatted to strings: Spark DATE reaches pandas as
    # datetime.date objects, DuckDB DATE as datetime64 — a typed-hash
    # mismatch in the driver despite equal values.
    return o.groupBy("o_orderstatus").agg(
        F.date_format(
            F.max_by("o_orderdate", "o_orderkey"), "yyyy-MM-dd"
        ).alias("latest_key_date"),
        F.date_format(
            F.min_by("o_orderdate", "o_orderkey"), "yyyy-MM-dd"
        ).alias("earliest_key_date"),
        F.max_by("o_totalprice", "o_orderkey").alias("latest_key_price"),
        F.max_by("o_custkey", "o_orderkey").alias("latest_key_cust"),
    )


@query(
    "window_cume_nth",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               ROUND(cume_dist() OVER w, 9)            AS cd,
               nth_value(o_totalprice, 2) OVER w       AS second_price,
               ROUND(percent_rank() OVER w, 9)         AS pr
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
    tags=("window", "rank"),
)
def window_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail of the window-function family: cume_dist, nth_value (null
    until the nth row enters the default ANSI frame), percent_rank.
    Ordering key is unique → RANGE and ROWS frames coincide and every
    engine agrees. One shuffle on o_custkey, no join."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.round(F.percent_rank().over(w), 9).alias("pr"),
    )


@query(
    "array_higher_order_predicates",
    oracle="""
        SELECT vec_id,
               len(list_filter(embedding, x -> x > 0))            AS n_pos,
               len(list_filter(embedding, x -> x > 2)) > 0        AS any_gt2,
               len(list_filter(embedding, x -> NOT (x > -10))) = 0 AS all_gt_neg10,
               ROUND(CAST(list_sort(embedding)[1] AS DOUBLE), 6)  AS min_elem,
               ROUND(CAST(list_sort(embedding)[-1] AS DOUBLE), 6) AS max_elem,
               ROUND(list_sum(list_transform(
                     list_filter(embedding, x -> x > 0),
                     x -> CAST(x AS DOUBLE))), 6)                 AS pos_mass
        FROM embeddings
    """,
    tags=("scalar", "array", "higher-order", "embeddings"),
)
def array_higher_order_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array predicates — filter/exists/forall/array_sort —
    complementing array_embedding_stats' transform/aggregate. All pure
    JVM expressions inside whole-stage codegen: per-row array math,
    zero shuffles, the 100 TB shape for element-wise vector screens."""
    em = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    pos = F.filter(e, lambda x: x > 0)
    srt = F.array_sort(e)
    return em.select(
        "vec_id",
        F.size(pos).alias("n_pos"),
        F.exists(e, lambda x: x > 2).alias("any_gt2"),
        F.forall(e, lambda x: x > -10).alias("all_gt_neg10"),
        F.round(F.element_at(srt, 1).cast("double"), 6).alias("min_elem"),
        F.round(F.element_at(srt, -1).cast("double"), 6).alias("max_elem"),
        F.round(
            F.aggregate(pos, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 6
        ).alias("pos_mass"),
    )


@query(
    "scalar_date_functions2",
    oracle="""
        SELECT o_orderkey,
               quarter(o_orderdate)                              AS q,
               STRFTIME(last_day(o_orderdate), '%Y-%m-%d')       AS month_end,
               STRFTIME(date_trunc('month', o_orderdate),
                        '%Y-%m-%d')                              AS month_start,
               dayofweek(o_orderdate) + 1                        AS dow,
               STRFTIME(o_orderdate + INTERVAL 3 MONTH,
                        '%Y-%m-%d')                              AS plus3m,
               STRFTIME(o_orderdate + INTERVAL 7 DAY,
                        '%Y-%m-%d')                              AS plus7d,
               CAST(epoch(o_orderdate) AS BIGINT)                AS epoch_s
        FROM orders
    """,
    tags=("scalar", "date"),
)
def scalar_date_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second calendar battery: quarter, last_day, month truncation,
    day-of-week (Spark is 1=Sunday; DuckDB 0=Sunday → oracle +1),
    add_months/date_add (both DATE-typed in Spark → oracle casts), and
    epoch seconds (DuckDB epoch() is DOUBLE → oracle casts). Map-only."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    # date-valued outputs formatted to strings (typed-hash parity —
    # Spark DATE -> datetime.date objects vs DuckDB datetime64).
    return o.select(
        "o_orderkey",
        F.quarter(d).alias("q"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
        F.dayofweek(d).alias("dow"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3m"),
        F.date_format(F.date_add(F.to_date(d), 7), "yyyy-MM-dd").alias("plus7d"),
        # o_orderdate is TIMESTAMP_NTZ (naive); DuckDB's epoch() treats
        # naive timestamps as UTC. Spark's unix_timestamp/LTZ casts are
        # session-timezone-dependent, so derive epoch seconds with pure
        # calendar arithmetic — identical in any session timezone.
        (
            F.datediff(F.to_date(d), F.lit("1970-01-01")).cast("long") * 86400
            + F.hour(d).cast("long") * 3600
            + F.minute(d).cast("long") * 60
            + F.second(d).cast("long")
        ).alias("epoch_s"),
    )


@query(
    "agg_chi_squared_independence",
    oracle="""
        WITH cells AS (
            SELECT o_orderpriority AS p, o_orderstatus AS s,
                   CAST(COUNT(*) AS DOUBLE) AS c
            FROM orders GROUP BY 1, 2
        ),
        e AS (
            SELECT p, s, c,
                   SUM(c) OVER (PARTITION BY p) AS rt,
                   SUM(c) OVER (PARTITION BY s) AS ct,
                   SUM(c) OVER ()               AS n
            FROM cells
        )
        SELECT ROUND(SUM((c - rt * ct / n) * (c - rt * ct / n)
                         / (rt * ct / n)), 6)                   AS chi2,
               CAST((COUNT(DISTINCT p) - 1) * (COUNT(DISTINCT s) - 1)
                    AS BIGINT)                                  AS dof,
               ROUND(SQRT(SUM((c - rt * ct / n) * (c - rt * ct / n)
                              / (rt * ct / n))
                          / (MAX(n) * LEAST(COUNT(DISTINCT p) - 1,
                                            COUNT(DISTINCT s) - 1))), 6)
                                                                AS cramers_v,
               CAST(MAX(n) AS BIGINT)                           AS n
        FROM e
    """,
    tags=("stats", "chi-squared", "orders"),
)
def agg_chi_squared_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between two categorical columns
    (order priority x order status) + Cramér's V effect size — the
    data-profiling primitive behind feature-selection and drift checks
    (the categorical sibling of the reference's mutual-information
    scoring, voice_classifier.py:150-153).

    Scale: ONE shuffle aggregates the fact table down to the r x c
    contingency cells; every window/aggregate after that runs on the
    dimension-sized cell table. Expected counts come from window sums
    (no joins), the final reduction is a single-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("p"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count("*").cast("double").alias("c"))
    )
    e = (
        cells.withColumn("rt", F.sum("c").over(Window.partitionBy("p")))
        .withColumn("ct", F.sum("c").over(Window.partitionBy("s")))
        .withColumn(
            "n", F.sum("c").over(Window.partitionBy())
        )
    )
    exp = F.col("rt") * F.col("ct") / F.col("n")
    contrib = (F.col("c") - exp) * (F.col("c") - exp) / exp
    return e.agg(
        F.round(F.sum(contrib), 6).alias("chi2"),
        (
            (F.countDistinct("p") - 1) * (F.countDistinct("s") - 1)
        ).cast("bigint").alias("dof"),
        F.round(
            F.sqrt(
                F.sum(contrib)
                / (
                    F.max("n")
                    * F.least(
                        F.countDistinct("p") - 1, F.countDistinct("s") - 1
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
        F.max("n").cast("bigint").alias("n"),
    )


KS_GROUPS = ("click", "purchase")
KS_BUCKETS = 256  # stats_ks_binned_ecdf's value-range buckets


@query(
    "stats_ks_two_sample",
    oracle=f"""
        WITH s AS (
            SELECT value AS v,
                   CASE WHEN event_type = '{KS_GROUPS[0]}' THEN 1 ELSE 0 END AS g1,
                   CASE WHEN event_type = '{KS_GROUPS[1]}' THEN 1 ELSE 0 END AS g2
            FROM events WHERE event_type IN ('{KS_GROUPS[0]}', '{KS_GROUPS[1]}')
        ),
        c AS (
            SELECT v,
                   SUM(g1) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS c1,
                   SUM(g2) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS c2,
                   SUM(g1) OVER () AS n1,
                   SUM(g2) OVER () AS n2
            FROM s
        )
        SELECT CAST(MAX(n1) AS BIGINT) AS n1,
               CAST(MAX(n2) AS BIGINT) AS n2,
               ROUND(MAX(ABS(CAST(c1 AS DOUBLE) / n1
                             - CAST(c2 AS DOUBLE) / n2)), 6) AS ks_stat
        FROM c
    """,
    tags=("stats", "ks-test", "events"),
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two event types: D = max_x |F1(x) - F2(x)|,
    evaluated at every distinct sample value (ties collapse to one
    ECDF step — the groupBy does that collapse explicitly here; the
    oracle's RANGE frame does it implicitly).

    DISTRIBUTED EXACT FORM — no global-ordering window anywhere in the
    plan: ``functions.ranks.prefix_sums`` collapses ties, and each
    distinct value's count of earlier values per group is a bucket
    offset (broadcast triangular join over the bucket ledger) plus a
    running sum inside its bucket (window PARTITIONED BY bucket). Then
    C(v) = before(v) + count(v) and D = max |C1/n1 - C2/n2|. Exactness
    is unaffected by bucket boundaries — buckets only fix WHERE the
    prefix is split, never what it sums to. Value skew concentrates
    rows in few buckets; use the binned-ECDF variant below when
    bucket-width error is fine."""
    e = load_table(spark, sf_dir, "events")
    g1, g2 = KS_GROUPS
    s = e.filter(F.col("event_type").isin(g1, g2)).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == g1, 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == g2, 1).otherwise(0).alias("g2"),
    )
    c = prefix_sums(s, "v", {"d1": F.col("g1"), "d2": F.col("g2")}, by=(), ties=())
    return c.agg(
        F.max("d1_total").cast("bigint").alias("n1"),
        F.max("d2_total").cast("bigint").alias("n2"),
        F.round(
            F.max(
                F.abs(
                    (F.col("d1_before") + F.col("d1")).cast("double")
                    / F.col("d1_total")
                    - (F.col("d2_before") + F.col("d2")).cast("double")
                    / F.col("d2_total")
                )
            ),
            6,
        ).alias("ks_stat"),
    )


@query(
    "stats_ks_binned_ecdf",
    oracle=f"""
        WITH s AS (
            SELECT value AS v,
                   CASE WHEN event_type = '{KS_GROUPS[0]}' THEN 1 ELSE 0 END AS g1,
                   CASE WHEN event_type = '{KS_GROUPS[1]}' THEN 1 ELSE 0 END AS g2
            FROM events WHERE event_type IN ('{KS_GROUPS[0]}', '{KS_GROUPS[1]}')
        ),
        bounds AS (
            SELECT MIN(v) AS vmin,
                   GREATEST(MAX(v) - MIN(v), 1e-300) AS span,
                   SUM(g1) AS n1, SUM(g2) AS n2
            FROM s
        ),
        h AS (
            SELECT LEAST({KS_BUCKETS - 1},
                         CAST(FLOOR((v - vmin) * {KS_BUCKETS} / span)
                              AS BIGINT)) AS bucket,
                   SUM(g1) AS h1, SUM(g2) AS h2,
                   MAX(n1) AS n1, MAX(n2) AS n2
            FROM s, bounds GROUP BY 1
        ),
        c AS (
            SELECT SUM(h1) OVER (ORDER BY bucket) AS c1,
                   SUM(h2) OVER (ORDER BY bucket) AS c2,
                   MAX(n1) OVER () AS n1, MAX(n2) OVER () AS n2
            FROM h
        )
        SELECT CAST(MAX(n1) AS BIGINT) AS n1,
               CAST(MAX(n2) AS BIGINT) AS n2,
               ROUND(MAX(ABS(CAST(c1 AS DOUBLE) / n1
                             - CAST(c2 AS DOUBLE) / n2)), 6) AS ks_stat_binned
        FROM c
    """,
    tags=("stats", "ks-test", "events", "binned", "sketch"),
)
def stats_ks_binned_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned-ECDF KS — the cheap 100 TB screen: histogram both samples
    into KS_BUCKETS (256) uniform value buckets (ONE aggregation,
    map-side combined), take cumulative ratios at bucket upper edges,
    and read D-hat = max |F1-hat - F2-hat|. D-hat underestimates the
    exact D by at most the ECDF mass crossing inside one bucket —
    exact to bucket width, the right trade for a drift monitor
    scanning 100 TB.

    The only window runs over <= 256 histogram rows (the bucket
    cumulative) — state the size of the bucket count, never the data;
    bucket assignment reuses identical double arithmetic in both
    engines ((v - vmin) * B / span, multiply before divide) so FLOOR
    agrees bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    g1, g2 = KS_GROUPS
    s = e.filter(F.col("event_type").isin(g1, g2)).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == g1, 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == g2, 1).otherwise(0).alias("g2"),
    )
    bounds = s.agg(
        F.min("v").alias("vmin"),
        F.greatest(
            F.max("v") - F.min("v"), F.lit(1e-300)
        ).alias("span"),
        F.sum("g1").alias("n1"),
        F.sum("g2").alias("n2"),
    )
    h = (
        s.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.least(
                F.lit(KS_BUCKETS - 1),
                F.floor(
                    (F.col("v") - F.col("vmin")) * KS_BUCKETS / F.col("span")
                ),
            )
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.sum("g1").alias("h1"),
            F.sum("g2").alias("h2"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        F.sum("h1").over(cum).alias("c1"),
        F.sum("h2").over(cum).alias("c2"),
        "n1",
        "n2",
    )
    return c.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.round(
            F.max(
                F.abs(
                    F.col("c1").cast("double") / F.col("n1")
                    - F.col("c2").cast("double") / F.col("n2")
                )
            ),
            6,
        ).alias("ks_stat_binned"),
    )


MAD_K = 1.4826       # consistency constant for normal data
MAD_CUTOFF = 3.5     # |modified z| above this -> outlier


@query(
    "stats_mad_outliers",
    oracle=f"""
        WITH med AS (
            SELECT event_type, MEDIAN(value) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type, MAX(m.med) AS med,
                   MEDIAN(ABS(e.value - m.med)) AS mad
            FROM events e JOIN med m ON e.event_type = m.event_type
            GROUP BY e.event_type
        )
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MAX(m.med), 6)     AS median_value,
               ROUND(MAX(m.mad), 6)     AS mad,
               CAST(COUNT(*) FILTER (
                   WHERE ABS(e.value - m.med)
                         > {MAD_CUTOFF} * {MAD_K} * m.mad) AS BIGINT)
                                        AS n_outliers
        FROM events e JOIN mad m ON e.event_type = m.event_type
        GROUP BY e.event_type
    """,
    tags=("stats", "outliers", "mad", "events"),
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group via the modified z-score:
    median + MAD (median absolute deviation) instead of mean + stddev,
    immune to the outliers it is hunting — the production data-quality
    screen for long-tailed metrics.

    Three passes, each a bounded aggregate broadcast into the next
    (the same two-pass-global-bound pattern as ``winsorize_order_
    prices``): group medians -> per-group MAD -> outlier counts. Exact
    medians buffer per group; at 100 TB swap both medians for
    percentile_approx with the plan otherwise unchanged."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = e.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
    )
    j = e.join(F.broadcast(mad), "event_type")
    is_out = F.abs(F.col("value") - F.col("med")) > (
        MAD_CUTOFF * MAD_K * F.col("mad")
    )
    return j.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.max("med"), 6).alias("median_value"),
        F.round(F.max("mad"), 6).alias("mad"),
        F.count(F.when(is_out, 1)).cast("bigint").alias("n_outliers"),
    )


@query(
    "window_rolling_corr",
    oracle="""
        WITH daily AS (
            SELECT epoch_us(ts) // (CAST(86400 AS BIGINT) * 1000000) AS day_idx,
                   SUM(CASE WHEN event_type = 'click' THEN value
                            ELSE 0 END) AS clicks,
                   SUM(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END) AS purchases
            FROM events GROUP BY 1
        )
        SELECT day_idx,
               ROUND(CORR(clicks, purchases) OVER (
                   ORDER BY day_idx
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
                   AS corr_7d
        FROM daily
        QUALIFY ROW_NUMBER() OVER (ORDER BY day_idx) >= 7
    """,
    tags=("stats", "window", "correlation", "events"),
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily click value and
    daily purchase value — an aggregate function (corr) used as a
    WINDOW function over a trailing frame, the co-movement monitor for
    paired metrics.

    Scale: the fact table collapses to one row per day first (map-side
    combined), so the window runs over calendar-sized data; corr is
    algebraic (co-moment composition), O(1) state per step."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            (F.unix_micros("ts") / F.lit(86_400 * 1_000_000))
            .cast("bigint")
            .alias("day_idx"),
            "event_type",
            "value",
        )
        .groupBy("day_idx")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", F.col("value")).otherwise(
                    0
                )
            ).alias("clicks"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0)
            ).alias("purchases"),
        )
    )
    w = Window.orderBy("day_idx").rowsBetween(-6, 0)
    return (
        daily.select(
            "day_idx",
            F.round(F.corr("clicks", "purchases").over(w), 6).alias("corr_7d"),
            F.row_number().over(Window.orderBy("day_idx")).alias("rn"),
        )
        .filter(F.col("rn") >= 7)
        .drop("rn")
    )


QBIN_N = 10


@query(
    "ml_quantile_binning",
    oracle=f"""
        WITH b AS (
            SELECT o_orderkey, o_totalprice,
                   NTILE({QBIN_N}) OVER (ORDER BY o_totalprice, o_orderkey)
                       AS bin
            FROM orders
        )
        SELECT bin,
               CAST(COUNT(*) AS BIGINT)      AS n,
               ROUND(MIN(o_totalprice), 2)   AS lo,
               ROUND(MAX(o_totalprice), 2)   AS hi
        FROM b GROUP BY bin
        ORDER BY bin
    """,
    tags=("ml", "binning", "orders"),
)
def ml_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning — the discretization step of
    ML feature preprocessing. The oracle states the textbook NTILE
    over a deterministic ordering (value + unique key tiebreak, so
    equal values split identically in any engine), then per-bin
    population stats.

    The engine side computes the SAME table without the global sort
    (r11 — the former single-partition NTILE window moved every order
    into one task): NTILE bucket sizes are a closed form of n alone
    (the first n mod 10 buckets get ⌈n/10⌉ rows, the rest ⌊n/10⌋), so
    each bin's count and its [start, end] GLOBAL RANKS are closed
    forms of n; and because the ordering is primarily by
    value, bin lo/hi are exactly the values AT those 20 ranks —
    extracted by ``functions.ranks.values_at_ranks``, which ranks only
    inside the ≤20 buckets that hold a wanted rank.
    Value-at-rank is tie-invariant, so ties rearranged inside a bucket
    cannot change any picked value."""
    # the rank module reads its input several times: checkpoint the
    # one-column projection so the orders scan runs once
    x = (
        load_table(spark, sf_dir, "orders")
        .select("o_totalprice")
        .localCheckpoint(eager=False)
    )
    n = F.col("n")
    q_ = F.floor(n / QBIN_N)
    rem = n % QBIN_N
    # 1-based rank span [s, e] of NTILE bucket i, straight from the
    # NTILE definition; an empty span (n < QBIN_N) is dropped below
    # (NTILE emits no row for an empty bucket).
    spans = [
        (i, (i - 1) * q_ + F.least(F.lit(i - 1), rem) + 1, i * q_ + F.least(F.lit(i), rem))
        for i in range(1, QBIN_N + 1)
    ]
    ranks = {
        f"{side}{i}": r - 1
        for i, s, e in spans
        for side, r in (("lo", s), ("hi", e))
    }
    vals = values_at_ranks(x, "o_totalprice", ranks, by=())
    bins = vals.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bin"),
                        (e - s + 1).alias("n"),
                        F.col(f"lo{i}").alias("lo"),
                        F.col(f"hi{i}").alias("hi"),
                    )
                    for i, s, e in spans
                ]
            )
        )
    )
    return (
        bins.where(F.col("n") > 0)
        .select(
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.round("lo", 2).alias("lo"),
            F.round("hi", 2).alias("hi"),
        )
        .orderBy("bin")
    )


@query(
    "agg_correlation_matrix",
    oracle="""
        SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price,
               ROUND(CORR(l_quantity, l_discount), 6)      AS qty_disc,
               ROUND(CORR(l_quantity, l_tax), 6)           AS qty_tax,
               ROUND(CORR(l_extendedprice, l_discount), 6) AS price_disc,
               ROUND(CORR(l_extendedprice, l_tax), 6)      AS price_tax,
               ROUND(CORR(l_discount, l_tax), 6)           AS disc_tax,
               CAST(COUNT(*) AS BIGINT)                    AS n
        FROM lineitem
    """,
    tags=("stats", "correlation", "lineitem"),
)
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures —
    all six pairs in ONE single-pass aggregate (corr is algebraic:
    co-moments compose map-side), the EDA screen before feature
    selection. One scan, one row out, no per-pair passes."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("qty_disc"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("qty_tax"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("price_disc"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("price_tax"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("disc_tax"),
        F.count("*").cast("bigint").alias("n"),
    )


PSI_BINS = 10                      # standard credit-scoring bin count
PSI_SPLIT = "2024-01-16"           # mid-month boundary: baseline | current
PSI_EPS = 1e-6                     # probability floor (absent-bin smoothing)


@query(
    "stats_psi_drift",
    oracle=f"""
        WITH s AS (
            SELECT event_type, value AS v,
                   CASE WHEN ts <  TIMESTAMP '{PSI_SPLIT}' THEN 1 ELSE 0 END AS b,
                   CASE WHEN ts >= TIMESTAMP '{PSI_SPLIT}' THEN 1 ELSE 0 END AS c
            FROM events
        ),
        bounds AS (
            SELECT MIN(v) AS vmin,
                   GREATEST(MAX(v) - MIN(v), 1e-300) AS span
            FROM s
        ),
        h AS (
            SELECT event_type,
                   LEAST({PSI_BINS - 1},
                         CAST(FLOOR((v - vmin) * {PSI_BINS} / span)
                              AS BIGINT)) AS bin,
                   SUM(b) AS hb, SUM(c) AS hc
            FROM s, bounds GROUP BY 1, 2
        ),
        r AS (
            SELECT event_type, hb, hc,
                   SUM(hb) OVER (PARTITION BY event_type) AS nb,
                   SUM(hc) OVER (PARTITION BY event_type) AS nc
            FROM h
        ),
        pq AS (
            SELECT event_type, nb, nc,
                   GREATEST(CAST(hb AS DOUBLE) / nb, {PSI_EPS}) AS p,
                   GREATEST(CAST(hc AS DOUBLE) / nc, {PSI_EPS}) AS q
            FROM r
        )
        SELECT event_type,
               CAST(MAX(nb) AS BIGINT) AS n_base,
               CAST(MAX(nc) AS BIGINT) AS n_curr,
               ROUND(SUM((p - q) * LN(p / q)), 6) AS psi,
               ROUND(SUM(0.5 * p * LN(2 * p / (p + q))
                         + 0.5 * q * LN(2 * q / (p + q))) / LN(2), 6) AS jsd,
               ROUND(0.5 * SUM(ABS(p - q)), 6) AS tv_dist,
               SUM((p - q) * LN(p / q)) > 0.1 AS drift_flag
        FROM pq
        GROUP BY event_type
    """,
    tags=("stats", "drift", "psi", "events", "monitoring"),
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor per event type: Population Stability
    Index, Jensen-Shannon divergence (bits), and total-variation
    distance between the baseline (ts < mid-month) and current value
    distributions, over PSI_BINS uniform bins.

    The standard screen run over every feature of a 100 TB training
    snapshot before a refresh is accepted. Plan: ONE scan histograms
    both periods at once (conditional sums, map-side combined) into
    <= |types| x PSI_BINS rows; per-type totals are a window over that
    tiny histogram, never the data; global value bounds arrive by
    broadcast. Absent bins are handled by flooring ratios at PSI_EPS —
    a bin empty on BOTH sides contributes exactly 0 to every measure,
    so the observed-bin histogram is complete without a bin spine.
    Bin assignment reuses the KS arithmetic ((v - vmin) * B / span,
    multiply before divide) so FLOOR agrees bit-for-bit cross-engine."""
    e = load_table(spark, sf_dir, "events")
    split = F.lit(PSI_SPLIT).cast("timestamp")
    s = e.select(
        "event_type",
        F.col("value").alias("v"),
        F.when(F.col("ts") < split, 1).otherwise(0).alias("b"),
        F.when(F.col("ts") >= split, 1).otherwise(0).alias("c"),
    )
    bounds = s.agg(
        F.min("v").alias("vmin"),
        F.greatest(F.max("v") - F.min("v"), F.lit(1e-300)).alias("span"),
    )
    h = (
        s.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            F.least(
                F.lit(PSI_BINS - 1),
                F.floor((F.col("v") - F.col("vmin")) * PSI_BINS / F.col("span")),
            )
            .cast("bigint")
            .alias("bin"),
        )
        .agg(F.sum("b").alias("hb"), F.sum("c").alias("hc"))
    )
    per_type = Window.partitionBy("event_type")
    pq = h.select(
        "event_type",
        F.sum("hb").over(per_type).alias("nb"),
        F.sum("hc").over(per_type).alias("nc"),
        F.greatest(
            F.col("hb").cast("double") / F.sum("hb").over(per_type), F.lit(PSI_EPS)
        ).alias("p"),
        F.greatest(
            F.col("hc").cast("double") / F.sum("hc").over(per_type), F.lit(PSI_EPS)
        ).alias("q"),
    )
    m2 = (F.col("p") + F.col("q"))
    return pq.groupBy("event_type").agg(
        F.max("nb").cast("bigint").alias("n_base"),
        F.max("nc").cast("bigint").alias("n_curr"),
        F.round(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6)
        .alias("psi"),
        F.round(
            F.sum(
                0.5 * F.col("p") * F.log(2 * F.col("p") / m2)
                + 0.5 * F.col("q") * F.log(2 * F.col("q") / m2)
            )
            / F.log(F.lit(2.0)),
            6,
        ).alias("jsd"),
        F.round(0.5 * F.sum(F.abs(F.col("p") - F.col("q"))), 6).alias("tv_dist"),
        (
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))) > 0.1
        ).alias("drift_flag"),
    )


@query(
    "stats_welch_ttest",
    oracle=f"""
        WITH s AS (
            SELECT event_type AS g, value AS v FROM events
            WHERE event_type IN ('{KS_GROUPS[0]}', '{KS_GROUPS[1]}')
        ),
        m AS (
            SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
                   AVG(v) AS mean, VAR_SAMP(v) AS var
            FROM s GROUP BY g
        ),
        w AS (
            SELECT MAX(CASE WHEN g = '{KS_GROUPS[0]}' THEN n END)    AS n1,
                   MAX(CASE WHEN g = '{KS_GROUPS[0]}' THEN mean END) AS m1,
                   MAX(CASE WHEN g = '{KS_GROUPS[0]}' THEN var END)  AS v1,
                   MAX(CASE WHEN g = '{KS_GROUPS[1]}' THEN n END)    AS n2,
                   MAX(CASE WHEN g = '{KS_GROUPS[1]}' THEN mean END) AS m2,
                   MAX(CASE WHEN g = '{KS_GROUPS[1]}' THEN var END)  AS v2
            FROM m
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               ROUND(m1 - m2, 6) AS mean_diff,
               ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
               ROUND(POWER(v1 / n1 + v2 / n2, 2)
                     / (POWER(v1 / n1, 2) / (n1 - 1)
                        + POWER(v2 / n2, 2) / (n2 - 1)), 4) AS df,
               ABS((m1 - m2) / SQRT(v1 / n1 + v2 / n2)) > 1.959964
                   AS reject_95
        FROM w
    """,
    tags=("stats", "hypothesis-test", "events"),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between the value
    distributions of two event types (the A/B-test workhorse): t
    statistic, Welch-Satterthwaite degrees of freedom, and the 95%
    normal-approx decision.

    Fully algebraic — ONE map-side-combined aggregation produces
    (n, mean, s²) per group; everything after runs on a 2-row table
    pivoted to one row. The cheapest possible hypothesis test at
    100 TB: a single scan, no ranks, no sort (contrast the exact
    KS / Mann-Whitney forms that need order statistics)."""
    e = load_table(spark, sf_dir, "events")
    g1, g2 = KS_GROUPS
    m = (
        e.filter(F.col("event_type").isin(g1, g2))
        .groupBy(F.col("event_type").alias("g"))
        .agg(
            F.count("*").cast("double").alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )
    w = m.agg(
        F.max(F.when(F.col("g") == g1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == g1, F.col("mean"))).alias("m1"),
        F.max(F.when(F.col("g") == g1, F.col("var"))).alias("v1"),
        F.max(F.when(F.col("g") == g2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == g2, F.col("mean"))).alias("m2"),
        F.max(F.when(F.col("g") == g2, F.col("var"))).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
        + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
    )
    return w.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 4).alias("df"),
        (F.abs(t) > 1.959964).alias("reject_95"),
    )


@query(
    "stats_mann_whitney_u",
    oracle=f"""
        WITH s AS (
            SELECT value AS v,
                   CASE WHEN event_type = '{KS_GROUPS[0]}' THEN 1 ELSE 0 END AS g1,
                   CASE WHEN event_type = '{KS_GROUPS[1]}' THEN 1 ELSE 0 END AS g2
            FROM events WHERE event_type IN ('{KS_GROUPS[0]}', '{KS_GROUPS[1]}')
        ),
        d AS (
            SELECT v, SUM(g1) AS d1, SUM(g2) AS d2, COUNT(*) AS t
            FROM s GROUP BY v
        ),
        c AS (
            SELECT d1, t,
                   SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t
                       AS cum_before
            FROM d
        ),
        agg AS (
            SELECT SUM(d1 * (cum_before + (t + 1) / 2.0)) AS r1,
                   SUM(CAST(t AS DOUBLE) * t * t - t)     AS tie_term,
                   CAST(SUM(d1) AS DOUBLE)                AS n1,
                   CAST(SUM(t - d1) AS DOUBLE)            AS n2
            FROM c
        )
        SELECT CAST(n1 AS BIGINT) AS n1,
               CAST(n2 AS BIGINT) AS n2,
               ROUND(n1 * n2 + n1 * (n1 + 1) / 2.0 - r1, 2) AS u1,
               ROUND((n1 * n2 + n1 * (n1 + 1) / 2.0 - r1 - n1 * n2 / 2.0)
                     / SQRT(n1 * n2 / 12.0
                            * ((n1 + n2 + 1)
                               - tie_term / ((n1 + n2)
                                             * (n1 + n2 - 1)))), 6) AS z,
               ROUND(1 - 2 * (n1 * n2 + n1 * (n1 + 1) / 2.0 - r1)
                         / (n1 * n2), 6) AS rank_biserial
        FROM agg
    """,
    tags=("stats", "hypothesis-test", "ranks", "events"),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U (Wilcoxon rank-sum) between
    two event types: U₁, the normal-approximation z (with the tie
    variance correction), and the rank-biserial effect size — the
    non-parametric complement to ``stats_welch_ttest`` when values
    are skewed.

    Rank computation is ``functions.ranks.prefix_sums``, as in
    ``stats_ks_two_sample``: ties collapse, and each distinct value's
    count of smaller values is a broadcast bucket offset plus a running
    count in a window PARTITIONED BY bucket — no unpartitioned
    WindowExec anywhere. The midrank of a tie group of size t starting
    after C predecessors is C + (t+1)/2; everything downstream of the
    per-value table is algebraic."""
    e = load_table(spark, sf_dir, "events")
    g1, g2 = KS_GROUPS
    s = e.filter(F.col("event_type").isin(g1, g2)).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == g1, 1).otherwise(0).alias("g1"),
    )
    c = prefix_sums(s, "v", {"d1": F.col("g1"), "t": F.lit(1)}, by=(), ties=())
    agg = c.agg(
        F.sum(
            F.col("d1") * (F.col("t_before") + (F.col("t") + 1) / 2.0)
        ).alias("r1"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
        F.sum("d1").cast("double").alias("n1"),
        F.sum(F.col("t") - F.col("d1")).cast("double").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1 = n1 * n2 + n1 * (n1 + 1) / 2.0 - F.col("r1")
    sigma = F.sqrt(
        n1 * n2 / 12.0
        * ((n1 + n2 + 1) - F.col("tie_term") / ((n1 + n2) * (n1 + n2 - 1)))
    )
    return agg.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        F.round(u1, 2).alias("u1"),
        F.round((u1 - n1 * n2 / 2.0) / sigma, 6).alias("z"),
        F.round(1 - 2 * u1 / (n1 * n2), 6).alias("rank_biserial"),
    )


@query(
    "stats_gini_concentration",
    oracle="""
        WITH rev AS (
            SELECT c.c_mktsegment AS seg, c.c_custkey,
                   SUM(o.o_totalprice) AS x
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, c.c_custkey
        ),
        r AS (
            SELECT seg, x,
                   ROW_NUMBER() OVER (PARTITION BY seg
                                      ORDER BY x, c_custkey) AS i,
                   COUNT(*) OVER (PARTITION BY seg) AS n
            FROM rev
        )
        SELECT seg,
               CAST(MAX(n) AS BIGINT) AS n_customers,
               ROUND(SUM(x), 2) AS total_revenue,
               ROUND(2.0 * SUM(i * x) / (MAX(n) * SUM(x))
                     - (MAX(n) + 1.0) / MAX(n), 6) AS gini
        FROM r
        GROUP BY seg
    """,
    tags=("stats", "concentration", "gini", "customer"),
)
def stats_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini coefficient) per market segment over
    per-customer order revenue — the inequality screen a curation
    pipeline runs on source/domain token counts too (a handful of
    domains owning the corpus is a sampling hazard).

    Gini via the rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with
    x ascending. Ranks come from a window PARTITIONED BY segment —
    never global; ties in x contribute identically under any
    permutation (equal values times consecutive ranks sum the same),
    and c_custkey makes the ordering fully deterministic anyway. One
    fact shuffle to the customer grain, one segment-keyed window, one
    aggregate — all on the same partitioning lineage."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), "c_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    w = Window.partitionBy("seg").orderBy("x", "c_custkey")
    r = rev.select(
        "seg",
        "x",
        F.row_number().over(w).alias("i"),
        F.count("*").over(Window.partitionBy("seg")).alias("n"),
    )
    return r.groupBy("seg").agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(F.sum("x"), 2).alias("total_revenue"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.max("n") * F.sum("x"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


@query(
    "stats_effect_sizes",
    oracle=f"""
        WITH s AS (
            SELECT value AS v,
                   CASE WHEN event_type = '{KS_GROUPS[0]}'
                        THEN 1.0 ELSE 0.0 END AS g
            FROM events
            WHERE event_type IN ('{KS_GROUPS[0]}', '{KS_GROUPS[1]}')
        ),
        m AS (
            SELECT SUM(g)                                   AS n1,
                   SUM(1 - g)                               AS n2,
                   SUM(v * g) / SUM(g)                      AS m1,
                   SUM(v * (1 - g)) / SUM(1 - g)            AS m2,
                   VAR_SAMP(CASE WHEN g = 1 THEN v END)     AS v1,
                   VAR_SAMP(CASE WHEN g = 0 THEN v END)     AS v2,
                   CORR(v, g)                               AS r_pb
            FROM s
        )
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               ROUND((m1 - m2) / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                                      / (n1 + n2 - 2)), 6)  AS cohens_d,
               ROUND((m1 - m2) / SQRT(((n1 - 1) * v1 + (n2 - 1) * v2)
                                      / (n1 + n2 - 2))
                     * (1 - 3 / (4 * (n1 + n2) - 9)), 6)    AS hedges_g,
               ROUND((m1 - m2) / SQRT(v2), 6)               AS glass_delta,
               ROUND(r_pb, 6)                               AS point_biserial
        FROM m
    """,
    tags=("stats", "effect-size", "events"),
)
def stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-size battery for the two-group comparison: Cohen's d
    (pooled SD), Hedges' g (small-sample correction), Glass's delta
    (control-group SD), and the point-biserial correlation — what gets
    reported NEXT TO the Welch/Mann-Whitney p-values, because at
    100 TB sample sizes every difference is "significant" and only
    effect size says whether it matters.

    One algebraic aggregation over the filtered scan (conditional
    moments + one corr), one row out — the same single-pass shape as
    ``stats_welch_ttest``; Cramér's V (the categorical effect size)
    lives in ``agg_chi_squared_independence``."""
    e = load_table(spark, sf_dir, "events")
    g1, g2 = KS_GROUPS
    s = e.filter(F.col("event_type").isin(g1, g2)).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == g1, 1.0).otherwise(0.0).alias("g"),
    )
    m = s.agg(
        F.sum("g").alias("n1"),
        F.sum(1 - F.col("g")).alias("n2"),
        (F.sum(F.col("v") * F.col("g")) / F.sum("g")).alias("m1"),
        (F.sum(F.col("v") * (1 - F.col("g"))) / F.sum(1 - F.col("g"))).alias(
            "m2"
        ),
        F.var_samp(F.when(F.col("g") == 1.0, F.col("v"))).alias("v1"),
        F.var_samp(F.when(F.col("g") == 0.0, F.col("v"))).alias("v2"),
        F.corr("v", "g").alias("r_pb"),
    )
    pooled = F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n2") - 1) * F.col("v2"))
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = (F.col("m1") - F.col("m2")) / pooled
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1 - 3 / (4 * (F.col("n1") + F.col("n2")) - 9)), 6
        ).alias("hedges_g"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt("v2"), 6).alias(
            "glass_delta"
        ),
        F.round("r_pb", 6).alias("point_biserial"),
    )


def _bucketed_avg_ranks(df: DataFrame, valcol: str, out: str) -> DataFrame:
    """(value -> average rank) for ``valcol`` without a global sort
    (``functions.ranks.prefix_sums``). Average rank of a tie block =
    count before it + (t+1)/2, exactly the mean of its 1-based row
    numbers."""
    r = prefix_sums(df, valcol, {"t": F.lit(1)}, by=(), ties=())
    return r.select(
        valcol, (F.col("t_before") + (F.col("t") + 1) / 2.0).alias(out)
    )


@query(
    "stats_spearman_corr",
    oracle="""
        WITH d AS (
            SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        ),
        rx AS (
            SELECT x, AVG(r) AS rank_x
            FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r FROM d)
            GROUP BY x
        ),
        ry AS (
            SELECT y, AVG(r) AS rank_y
            FROM (SELECT y, ROW_NUMBER() OVER (ORDER BY y) AS r FROM d)
            GROUP BY y
        ),
        j AS (
            SELECT rank_x, rank_y, x, y
            FROM d JOIN rx USING (x) JOIN ry USING (y)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CORR(rank_x, rank_y), 6) AS spearman_rho,
               ROUND(CORR(x, y), 6) AS pearson_r
        FROM j
    """,
    tags=("stats", "correlation", "ranks", "lineitem"),
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    (with the Pearson r alongside — their gap diagnoses non-linearity
    when a relation exists; this generator's columns are near-
    independent, which the estimate correctly reports as ρ≈0).
    ρ = Pearson correlation of tie-averaged ranks, the estimator that
    survives outliers and monotone transforms.

    The oracle states the textbook global ROW_NUMBER ranking — the
    single-partition sort that does NOT scale. The engine side computes
    both columns' average ranks with ``_bucketed_avg_ranks``: no
    global sort, every window partitioned by bucket, offsets from a
    broadcast triangular join; ranks attach back by value-keyed
    equi-joins. Average ranks are exact integers
    plus halves (< 2^53), so both engines feed IDENTICAL rank vectors
    into their stable one-pass correlation — round 6 absorbs the
    accumulation-order ulps."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    rx = _bucketed_avg_ranks(li, "x", "rank_x")
    ry = _bucketed_avg_ranks(li, "y", "rank_y")
    j = li.join(F.broadcast(rx), "x").join(ry, "y")
    return j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.corr("rank_x", "rank_y"), 6).alias("spearman_rho"),
        F.round(F.corr("x", "y"), 6).alias("pearson_r"),
    )


# --- Hodges-Lehmann robust location estimator ---------------------------


@query(
    "stats_hodges_lehmann",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS c
            FROM orders GROUP BY 1
        ),
        walsh AS (
            SELECT a.c + b.c AS w2
            FROM daily a JOIN daily b ON a.d <= b.d
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM walsh),
        mid AS (
            SELECT w2, ROW_NUMBER() OVER (ORDER BY w2) AS rk FROM walsh
        ),
        hl AS (
            SELECT AVG(CAST(w2 AS DOUBLE)) / 2 AS hl_cents
            FROM mid, n
            WHERE rk IN ((np + 1) // 2, (np + 2) // 2)
        ),
        plain AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   SUM(c) / 100.0 / COUNT(*) AS mean_rev,
                   MEDIAN(c) / 100.0 AS median_rev
            FROM daily
        )
        SELECT p.n_days, n.np AS n_pairs,
               ROUND(h.hl_cents / 100, 4) AS hl_estimate,
               ROUND(p.mean_rev, 4) AS mean_rev,
               ROUND(p.median_rev, 4) AS median_rev
        FROM hl h, plain p, n
    """,
    tags=("stats", "robust", "location", "orders", "window"),
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimate of daily revenue: the median
    of all Walsh averages (xᵢ+xⱼ)/2 over day pairs i ≤ j — the point
    estimator dual to the Wilcoxon signed-rank test, ~95% as efficient
    as the mean at the Gaussian yet 0%-breakdown-free of the median's
    discreteness. Reported beside the plain mean and median.

    Exactness: Walsh sums stay INTEGER cents (never divided until the
    end), the middle ranks are exact element picks of the sorted pair
    multiset (value-at-rank is well-defined under ties regardless of
    tie order), and the even-count case averages two integers. The
    pair join runs on the calendar-bounded day spine — the same
    bounded-quadratic contract as stats_mann_kendall_trend (≈3M pairs
    at a 7-year span, INDEPENDENT of fact size; the fact table itself
    collapses to the spine in one aggregation).

    Rank extraction is ``functions.ranks.values_at_ranks``: it ranks
    ONLY the 1-2 buckets of the pair multiset that contain the middle
    ranks (a window PARTITIONED by bucket) and offsets them by the
    bucket ledger's prefix counts — value-at-rank is tie-order
    invariant, so the answer is identical to the global sort the
    oracle uses, without any unpartitioned N-row window.
    """
    o = load_table(spark, sf_dir, "orders")
    # daily feeds THREE consumers (both Walsh join sides + the plain
    # mean/median aggregate): persist the calendar-bounded spine so the
    # orders scan+aggregate runs once, not three times (r11 — the lazy
    # form re-planned the subtree per consumer: 18 parquet scans in the
    # final plan).
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    ).persist()
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    # the rank module reads the pair frame several times: checkpoint it
    walsh = a.join(b, F.col("da") <= F.col("db")).select(
        (F.col("ca") + F.col("cb")).alias("w2")
    ).localCheckpoint(eager=False)
    # the middle 0-based ranks: (np+1) DIV 2 - 1 and (np+2) DIV 2 - 1
    mid = {"k1": F.expr("(n + 1) DIV 2") - 1, "k2": F.expr("(n + 2) DIV 2") - 1}
    hl = values_at_ranks(walsh, "w2", mid, by=()).select(
        "n",
        (
            (F.col("k1").cast("double") + F.col("k2").cast("double")) / 2 / 2
        ).alias("hl_cents"),
    )
    plain = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        (F.sum("c") / 100.0 / F.count("*")).alias("mean_rev"),
        (F.expr("median(c)") / 100.0).alias("median_rev"),
    )
    return (
        hl.crossJoin(F.broadcast(plain))
        .select(
            "n_days",
            F.col("n").alias("n_pairs"),
            F.round(F.col("hl_cents") / 100, 4).alias("hl_estimate"),
            F.round(F.col("mean_rev"), 4).alias("mean_rev"),
            F.round(F.col("median_rev"), 4).alias("median_rev"),
        )
    )


# --- Wilcoxon signed-rank test (paired) ---------------------------------


@query(
    "stats_wilcoxon_signed_rank",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   SUM(CASE WHEN o_custkey % 2 = 0
                       THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS x,
                   SUM(CASE WHEN o_custkey % 2 = 1
                       THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS y
            FROM orders GROUP BY 1
        ),
        diffs AS (
            SELECT x - y AS dv, ABS(x - y) AS av
            FROM daily WHERE x - y <> 0
        ),
        grp AS (
            SELECT av, CAST(COUNT(*) AS BIGINT) AS t,
                   CAST(SUM(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS pos
            FROM diffs GROUP BY av
        ),
        ranked AS (
            SELECT av, t, pos,
                   COALESCE(SUM(t) OVER (ORDER BY av
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS before
            FROM grp
        ),
        agg AS (
            SELECT CAST(SUM(t) AS BIGINT) AS n,
                   SUM(pos * (before + (t + 1) / 2.0)) AS w_plus,
                   CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
            FROM ranked
        ),
        calc AS (
            SELECT n, w_plus,
                   n * (n + 1) / 4.0 AS mu,
                   SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0
                        - tie_term / 48.0) AS sigma
            FROM agg
        )
        SELECT n AS n_pairs,
               ROUND(w_plus, 2) AS w_plus,
               ROUND(mu, 2) AS mu,
               ROUND(sigma, 4) AS sigma,
               ROUND(CASE WHEN w_plus > mu THEN (w_plus - mu - 0.5) / sigma
                          WHEN w_plus < mu THEN (w_plus - mu + 0.5) / sigma
                          ELSE 0.0 END, 4) AS z,
               CAST(ABS(CASE WHEN w_plus > mu
                             THEN (w_plus - mu - 0.5) / sigma
                             WHEN w_plus < mu
                             THEN (w_plus - mu + 0.5) / sigma
                             ELSE 0.0 END) > 1.959963985 AS BOOLEAN)
                   AS reject_h0
        FROM calc
    """,
    tags=("stats", "hypothesis-test", "robust", "paired", "orders"),
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED companion to
    stats_mann_whitney_u (and the test whose point estimate is
    stats_hodges_lehmann): does the even-custkey half of each day's
    revenue differ from the odd-custkey half? Zero differences drop,
    |d| gets tie-averaged ranks, W⁺ sums the positive-difference
    ranks; the normal approximation uses the tie-corrected variance
    n(n+1)(2n+1)/24 − Σ(t³−t)/48 and a continuity-corrected z against
    the fixed ±1.959963985 gate.

    Rank construction follows the house two-phase idiom: differences
    are exact integer cents, the per-|d| aggregate carries (count,
    positives), the running-sum window over the DISTINCT-|d| frame
    yields each group's average rank as before + (t+1)/2 — no per-row
    ranking, no global row sort; every sum the z consumes is an exact
    integer or an exact half. Windows run over the calendar-bounded
    day spine only.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("o_custkey") % 2 == 0, cents).otherwise(0)).alias(
            "x"
        ),
        F.sum(F.when(F.col("o_custkey") % 2 == 1, cents).otherwise(0)).alias(
            "y"
        ),
    )
    diffs = daily.select(
        (F.col("x") - F.col("y")).alias("dv"),
        F.abs(F.col("x") - F.col("y")).alias("av"),
    ).where(F.col("dv") != 0)
    grp = diffs.groupBy("av").agg(
        F.count("*").cast("bigint").alias("t"),
        F.sum(F.when(F.col("dv") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    w_before = Window.orderBy("av").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = grp.select(
        "t",
        "pos",
        F.coalesce(F.sum("t").over(w_before), F.lit(0)).alias("before"),
    )
    agg = ranked.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("pos") * (F.col("before") + (F.col("t") + 1) / 2.0)
        ).alias("w_plus"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_term"),
    )
    n, wp = F.col("n"), F.col("w_plus")
    mu = n * (n + 1) / 4.0
    sigma = F.sqrt(
        n * (n + 1.0) * (2 * n + 1) / 24.0 - F.col("tie_term") / 48.0
    )
    z = (
        F.when(wp > mu, (wp - mu - 0.5) / sigma)
        .when(wp < mu, (wp - mu + 0.5) / sigma)
        .otherwise(F.lit(0.0))
    )
    return agg.select(
        n.alias("n_pairs"),
        F.round(wp, 2).alias("w_plus"),
        F.round(mu, 2).alias("mu"),
        F.round(sigma, 4).alias("sigma"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > Z95_TWO_SIDED).alias("reject_h0"),
    )


# --- Poisson overdispersion check ----------------------------------------


@query(
    "stats_overdispersion",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS k
            FROM orders GROUP BY o_custkey
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(k) AS BIGINT) AS s1,
                   CAST(SUM(k * k) AS BIGINT) AS s2
            FROM per_cust
        )
        SELECT n,
               ROUND(s1 * 1.0 / n, 6) AS mean_k,
               ROUND((s2 - s1 * 1.0 * s1 / n) / (n - 1), 6) AS var_k,
               ROUND(((s2 - s1 * 1.0 * s1 / n) / (n - 1))
                     / (s1 * 1.0 / n), 6) AS dispersion,
               ROUND((((s2 - s1 * 1.0 * s1 / n) / (n - 1))
                      / (s1 * 1.0 / n) * (n - 1) - (n - 1))
                     / SQRT(2.0 * (n - 1)), 4) AS z,
               CAST(ABS((((s2 - s1 * 1.0 * s1 / n) / (n - 1))
                         / (s1 * 1.0 / n) * (n - 1) - (n - 1))
                        / SQRT(2.0 * (n - 1))) > 1.959963985 AS BOOLEAN)
                   AS overdispersed
        FROM m
    """,
    tags=("stats", "hypothesis-test", "count-model", "orders"),
)
def stats_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion check on per-customer order counts: the
    dispersion index var/mean (1 under Poisson), its chi-square form
    (n−1)·D, and the normal-approximation z against the fixed ±1.96
    gate — the diagnostic that decides between Poisson and
    negative-binomial count models (and whether per-user event counts
    need variance inflation in A/B power math; companion to
    stats_empirical_bayes_rates' beta-binomial shrinkage).

    One customer-keyed count aggregate, one 3-sum moment pass — all
    exact integers until the final divisions."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("k")
    )
    m = per_cust.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s1"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean_k = s1 * 1.0 / n
    var_k = (s2 - s1 * 1.0 * s1 / n) / (n - 1)
    disp = var_k / mean_k
    z = (disp * (n - 1) - (n - 1)) / F.sqrt(2.0 * (n - 1))
    return m.select(
        "n",
        F.round(mean_k, 6).alias("mean_k"),
        F.round(var_k, 6).alias("var_k"),
        F.round(disp, 6).alias("dispersion"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > Z95_TWO_SIDED).alias("overdispersed"),
    )


# --- round-5: Benjamini-Hochberg FDR over a fixed hypothesis family --

BH_ALPHA = 0.05
BH_CELLS = 20  # 5 event types x 4 user buckets — m is SF-independent


def _phi_inv_upper(q: float) -> float:
    """Φ⁻¹(1 − q) by bisection on math.erf — double-deterministic at
    module import, so the SAME constants land in the Spark literal
    table and the oracle SQL (the fixed-critical-value idiom: no
    in-engine normal CDF needed)."""
    import math

    lo, hi = 0.0, 12.0
    for _ in range(200):
        mid = (lo + hi) / 2
        # upper tail P(Z > mid) = (1 - erf(mid/√2)) / 2
        if (1.0 - math.erf(mid / math.sqrt(2.0))) / 2.0 > q:
            lo = mid
        else:
            hi = mid
    return round((lo + hi) / 2, 9)


# z*_i = Φ⁻¹(1 − (i/m)·α/2): reject H_(i) (|z| descending) iff
# |z|_(i) ≥ z*_i for some i ≤ k*.
BH_THRESHOLDS = tuple(
    _phi_inv_upper((i / BH_CELLS) * BH_ALPHA / 2.0) for i in range(1, BH_CELLS + 1)
)

_BH_VALUES = ", ".join(f"({i + 1}, {t!r})" for i, t in enumerate(BH_THRESHOLDS))


@query(
    "stats_benjamini_hochberg",
    oracle=f"""
        WITH g AS (
            SELECT event_type, user_id % 4 AS ub,
                   COUNT(*) AS n, AVG(value) AS mean_v
            FROM events GROUP BY event_type, user_id % 4
        ),
        o AS (SELECT AVG(value) AS mu, STDDEV_SAMP(value) AS sd FROM events),
        z AS (
            SELECT event_type, ub, n,
                   ROUND((mean_v - mu) / (sd / SQRT(n)), 6) AS z
            FROM g CROSS JOIN o
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY ABS(z) DESC, event_type, ub) AS rn
            FROM z
        ),
        th(rn, zstar) AS (VALUES {_BH_VALUES}),
        kstar AS (
            SELECT COALESCE(MAX(r.rn), 0) AS k
            FROM ranked r JOIN th ON th.rn = r.rn
            WHERE ABS(r.z) >= th.zstar
        )
        SELECT r.event_type, CAST(r.ub AS BIGINT) AS ub,
               CAST(r.n AS BIGINT) AS n, r.z,
               CAST(r.rn AS BIGINT) AS rank,
               r.rn <= (SELECT k FROM kstar) AS rejected
        FROM ranked r
    """,
    tags=("stats", "inference", "multiple-testing", "events"),
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a FIXED family of m=20
    segment hypotheses (event type × user bucket; H₀: segment mean
    value = corpus mean): the multiple-testing gate every metrics
    platform needs once it tests many segments at once. The step-up
    rule runs on the Z SCALE — reject the top-k |z| where
    |z|₍ᵢ₎ ≥ Φ⁻¹(1−(i/m)α/2) — with the m critical values bisected
    from math.erf at import time and shipped as a 20-row literal table
    to BOTH engines (p-values and in-engine normal CDFs never needed:
    p₍ᵢ₎ ≤ (i/m)α ⟺ the z-threshold form, since p = g(|z|) is strictly
    decreasing). Plan: one cell aggregate, one scalar corpus-moment
    broadcast, one 20-row ranking window, one literal-table join —
    everything past the first aggregate is dimension-sized at any SF."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type", (F.col("user_id") % 4).alias("ub")).agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_v")
    )
    o = e.agg(F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd"))
    z = g.crossJoin(F.broadcast(o)).select(
        "event_type",
        "ub",
        "n",
        F.round(
            (F.col("mean_v") - F.col("mu")) / (F.col("sd") / F.sqrt("n")), 6
        ).alias("z"),
    )
    w = Window.orderBy(F.abs("z").desc(), "event_type", "ub")
    ranked = z.select("*", F.row_number().over(w).alias("rn"))
    th = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(BH_THRESHOLDS)], "rn int, zstar double"
    )
    kstar = (
        ranked.join(F.broadcast(th), "rn")
        .where(F.abs("z") >= F.col("zstar"))
        .agg(F.coalesce(F.max("rn"), F.lit(0)).alias("k"))
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "event_type",
        F.col("ub").cast("bigint").alias("ub"),
        F.col("n").cast("bigint").alias("n"),
        "z",
        F.col("rn").cast("bigint").alias("rank"),
        (F.col("rn") <= F.col("k")).alias("rejected"),
    )
