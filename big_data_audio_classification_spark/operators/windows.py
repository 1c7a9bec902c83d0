"""Window-function family: ranking, lag/lead, running aggregates, top-k.

Reference parity: the generator's running cumulative duration (R7,
``/root/reference/src/data_generator.py:14,20-21``) is the canonical
running-sum window; the phrase-boundary ``lag`` (R23,
``voice_classifier.py:125``) and global time sort (R43, ``:305``)
generalize to the lag/lead and ordering exemplars here.

Scale notes: every window here is ``partitionBy(key).orderBy(...)`` —
one hash shuffle on the partition key, then a per-partition sort; no
global sort. Unpartitioned global windows (a single ordered partition)
are avoided everywhere except tiny inputs — at 100 TB a global window is
a single-task bottleneck. Frames are explicit ``rowsBetween`` (the
default RANGE frame with ties is both slower and subtly different).
Top-k per group = row_number + filter: shuffles once and never
materializes a global sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table


@query(
    "window_running_spend",
    oracle="""
        SELECT o_custkey, o_orderkey,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        FROM orders
    """,
    tags=("window",),
)
def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum per customer (R7's cumulative-seconds
    pattern, data_generator.py:20-21). Deterministic tie-break on the
    unique key keeps the cumsum well-defined under ordering ties."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "window_rank_family",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               ROW_NUMBER()   OVER w AS rn,
               RANK()         OVER w AS rnk,
               DENSE_RANK()   OVER w AS drnk,
               NTILE(4)       OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
    tags=("window",),
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile / percent_rank."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@query(
    "window_lag_lead_events",
    oracle="""
        SELECT event_id, user_id,
               ROUND(value, 2) AS value,
               ROUND(LAG(value)  OVER w, 2) AS prev_value,
               ROUND(LEAD(value) OVER w, 2) AS next_value,
               epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS micros_since_prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window", "events"),
)
def window_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead with event-time deltas (R23's phrase-boundary lag,
    voice_classifier.py:125, generalized to per-user event streams)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("value"),
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.round(F.lead("value").over(w), 2).alias("next_value"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "micros_since_prev"
        ),
    )


@query(
    "window_first_last_value",
    oracle="""
        SELECT DISTINCT o_custkey,
               FIRST_VALUE(o_orderkey) OVER w AS first_order,
               LAST_VALUE(o_orderkey)  OVER w AS last_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over an explicit full-partition frame
    (the default frame would make last_value ≡ current row)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    ).dropDuplicates()


@query(
    "window_moving_avg",
    oracle="""
        SELECT user_id, event_id,
               ROUND(AVG(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
        FROM events
    """,
    tags=("window", "events"),
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 3-row moving average per user."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return e.select(
        "user_id", "event_id", F.round(F.avg("value").over(w), 4).alias("ma3")
    )


@query(
    "topk_orders_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the scalable top-k-per-group shape
    (one shuffle, per-partition sort, no global sort; AQE handles skewed
    customers)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "global_topk_orders",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    tags=("window", "topk", "sort"),
)
def global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k via orderBy + limit — Catalyst compiles this to
    TakeOrderedAndProject: per-partition heap top-k then a k-row merge
    on one task. O(k) driver memory at any scale, unlike a global sort
    (R43's ``sort_values`` made scale-safe)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    ).limit(20)


TRAIL_DAYS = 30


@query(
    "window_range_interval",
    oracle=f"""
        SELECT o_orderkey, o_custkey,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY epoch(o_orderdate)
                   RANGE BETWEEN {TRAIL_DAYS} * 86400 PRECEDING
                         AND CURRENT ROW), 2) AS trailing_30d
        FROM orders
    """,
    tags=("window", "range-frame", "timeseries"),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window over event time: per customer, the trailing
    30-day revenue ending at each order — a true value-based frame
    (rows enter/leave by timestamp distance, not row position). Ordered
    on integer epoch seconds so both engines frame identically; ties in
    the ordering value are handled by RANGE semantics (peers aggregate
    together), which is the point of the exemplar."""
    o = load_table(spark, sf_dir, "orders")
    # tz-proof epoch seconds (calendar arithmetic — see stats.py)
    secs = (
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).cast("long")
        * 86400
        + F.hour("o_orderdate").cast("long") * 3600
        + F.minute("o_orderdate").cast("long") * 60
        + F.second("o_orderdate").cast("long")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(secs.alias("es"))
        .rangeBetween(-TRAIL_DAYS * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d"),
    )


# --- round-5 carrier: first-time 'rolling' window entry --------------


@query(
    "window_rolling_minmax_scale",
    oracle="""
        WITH w AS (
            SELECT event_id, user_id, value,
                   MIN(value) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS lo,
                   MAX(value) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS hi,
                   COUNT(*)  OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_win
            FROM events
        )
        SELECT event_id, user_id, n_win,
               ROUND(lo, 4) AS roll_min,
               ROUND(hi, 4) AS roll_max,
               ROUND(CASE WHEN hi > lo THEN (value - lo) / (hi - lo)
                          ELSE 0.5 END, 6) AS scaled
        FROM w
    """,
    tags=("window", "rolling", "events"),
)
def window_rolling_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling min-max normalization (trailing 4-row frame per user) —
    the online feature-scaling transform of a streaming featurizer,
    as three frame-shared window aggregates plus arithmetic. The frame
    orders by (ts, event_id) — the unique-key tiebreak every window
    ordering here carries (cross-engine determinism idiom). Degenerate
    frames (hi == lo) pin to 0.5, matching the oracle CASE. One
    user-keyed shuffle serves all three aggregates (same frame → one
    Window node)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.round(lo, 4).alias("roll_min"),
        F.round(hi, 4).alias("roll_max"),
        F.round(
            F.when(hi > lo, (F.col("value") - lo) / (hi - lo)).otherwise(0.5), 6
        ).alias("scaled"),
    )


# --- round-6 carrier: first-time 'rolling' entry ----------------------

TRIM_WIN = 2  # rows on each side of the 5-row centered rolling frame


@query(
    "window_rolling_trimmed_mean",
    oracle=f"""
        WITH w AS (
            SELECT event_id, user_id, ts, value,
                   SUM(value) OVER f   AS s,
                   MIN(value) OVER f   AS lo,
                   MAX(value) OVER f   AS hi,
                   COUNT(*) OVER f     AS n
            FROM events
            WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {TRIM_WIN} PRECEDING
                                  AND {TRIM_WIN} FOLLOWING)
        )
        SELECT event_id, user_id,
               CAST(n AS BIGINT) AS n_win,
               ROUND(CASE WHEN n > 2 THEN (s - lo - hi) / (n - 2)
                          ELSE s / n END, 6) + 0 AS trimmed_mean,
               -- + 0 normalizes DuckDB's -0.0 (ROUND of a tiny negative)
               -- to +0.0: Spark's BigDecimal round never emits -0.0, and
               -- the driver's typed hash distinguishes the sign bit
               -- (r06 red row: 33 negative-zero residual cells).
               ROUND(value - CASE WHEN n > 2 THEN (s - lo - hi) / (n - 2)
                                  ELSE s / n END, 6) + 0 AS residual
        FROM w
    """,
    tags=("window", "rolling", "robust", "events"),
)
def window_rolling_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXTREMA-TRIMMED mean (drop the min and max of each 5-row
    centered frame, average the rest) and its residual — the
    spike-robust smoother used on sensor streams, expressed entirely
    with built-in window aggregates (sum/min/max/count over ONE shared
    frame) instead of a per-frame sort or UDF. Truncated edge frames
    fall back to the plain mean when ≤2 rows. One shuffle on user_id;
    the four aggregates share the same window spec so Spark evaluates
    them in a single WindowExec pass. Sibling of
    ``window_rolling_minmax_scale`` (certified r05)."""
    e = load_table(spark, sf_dir, "events")
    f = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-TRIM_WIN, TRIM_WIN)
    )
    s, lo, hi, n = (
        F.sum("value").over(f),
        F.min("value").over(f),
        F.max("value").over(f),
        F.count(F.lit(1)).over(f),
    )
    tmean = F.when(n > 2, (s - lo - hi) / (n - 2)).otherwise(s / n)
    return e.select(
        "event_id",
        "user_id",
        n.cast("bigint").alias("n_win"),
        F.round(tmean, 6).alias("trimmed_mean"),
        F.round(F.col("value") - tmean, 6).alias("residual"),
    )


# --- round-7 spare carrier: linear-decay rolling weighted mean ----------

WMA_WIN = 5  # trailing rows in the weighted window (weights 1..5)


@query(
    "window_rolling_weighted_mean",
    oracle=f"""
        WITH x AS (
            SELECT event_id, user_id, value,
                   LAG(value, 1) OVER w AS v1,
                   LAG(value, 2) OVER w AS v2,
                   LAG(value, 3) OVER w AS v3,
                   LAG(value, 4) OVER w AS v4
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_id, user_id,
               ROUND((5 * value + COALESCE(4 * v1, 0) + COALESCE(3 * v2, 0)
                      + COALESCE(2 * v3, 0) + COALESCE(1 * v4, 0))
                     / (5.0 + CASE WHEN v1 IS NULL THEN 0 ELSE 4 END
                            + CASE WHEN v2 IS NULL THEN 0 ELSE 3 END
                            + CASE WHEN v3 IS NULL THEN 0 ELSE 2 END
                            + CASE WHEN v4 IS NULL THEN 0 ELSE 1 END), 6)
                   AS wma
        FROM x
    """,
    tags=("window", "rolling", "events"),
)
def window_rolling_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEARLY-DECAYING rolling weighted mean (WMA-5: weight n for
    the current row down to 1 for the oldest) — the classic
    trend-following smoother between the uniform rolling mean and the
    EWMA (``events_ewma_deviation``). Spark states it as explicit LAGs
    over ONE shared window spec (a single WindowExec pass, no frame
    re-sort per weight); truncated leading frames renormalize by the
    weights actually present, matching the oracle's NULL-guarded
    arithmetic exactly."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value")] + [
        F.lag("value", i).over(w) for i in range(1, WMA_WIN)
    ]
    num = sum(
        F.coalesce(F.lit(WMA_WIN - i) * lags[i], F.lit(0.0))
        for i in range(WMA_WIN)
    )
    den = sum(
        F.when(lags[i].isNull(), 0.0).otherwise(float(WMA_WIN - i))
        for i in range(WMA_WIN)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(num / den, 6).alias("wma"),
    )


# --- round-8 spare: TIME-range rolling stats ----------------------------

ROLL_TIME_S = 7200  # trailing 2-hour window


@query(
    "window_rolling_time_stats",
    oracle=f"""
        SELECT event_id, user_id,
               CAST(COUNT(*) OVER f AS BIGINT)      AS n_2h,
               ROUND(AVG(value) OVER f, 6)          AS mean_2h,
               ROUND(value - AVG(value) OVER f, 6)  AS dev_from_2h
        FROM events
        WINDOW f AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {ROLL_TIME_S * 1_000_000} PRECEDING
                           AND CURRENT ROW)
    """,
    tags=("window", "rolling", "window-time", "events"),
)
def window_rolling_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based rolling stats: trailing 2-HOUR count/mean per user —
    a RANGE frame on integer epoch micros, so rows enter and leave by
    CLOCK distance, not row position (the row-framed siblings:
    ``window_rolling_trimmed_mean``, ``window_rolling_weighted_mean``).
    Irregular event spacing is the point: n_2h varies per row, which no
    ROWS frame can express. Equal-timestamp peers aggregate together
    (RANGE semantics) in both engines. One shuffle on user_id."""
    e = load_table(spark, sf_dir, "events")
    f = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-ROLL_TIME_S * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(f).cast("bigint").alias("n_2h"),
        F.round(F.avg("value").over(f), 6).alias("mean_2h"),
        F.round(F.col("value") - F.avg("value").over(f), 6).alias(
            "dev_from_2h"
        ),
    )


# ---------------------------------------------------------------------------
# rolling: windowed skewness / kurtosis from exact power sums
# ---------------------------------------------------------------------------

RSK_WINDOW = 24  # rows preceding (25-row frame with the current row)
RSK_MIN_N = 5    # emit NULL moments below this frame population


@query(
    "window_rolling_skew_kurt",
    oracle=f"""
        WITH x AS (
            SELECT event_id, user_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events
        ),
        s AS (
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER w AS DOUBLE)          AS n,
                   CAST(SUM(c) OVER w AS DOUBLE)            AS s1,
                   CAST(SUM(c * c) OVER w AS DOUBLE)        AS s2,
                   CAST(SUM(CAST(c * c AS DECIMAL(38, 0)) * c)
                        OVER w AS DOUBLE)                   AS s3,
                   CAST(SUM(CAST(c * c AS DECIMAL(38, 0))
                            * CAST(c * c AS DECIMAL(38, 0))) OVER w AS DOUBLE)
                                                            AS s4
            FROM x
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {RSK_WINDOW} PRECEDING AND CURRENT ROW)
        ),
        m AS (
            SELECT event_id, user_id, n,
                   s2 / n - (s1 / n) * (s1 / n) AS m2,
                   s3 / n - 3.0 * (s1 / n) * (s2 / n)
                          + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                   s4 / n - 4.0 * (s1 / n) * (s3 / n)
                          + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                          - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)
                              AS m4
            FROM s
        )
        SELECT event_id, user_id, CAST(n AS BIGINT) AS n,
               CASE WHEN n >= {RSK_MIN_N} AND m2 > 0
                    THEN ROUND(m3 / (SQRT(m2) * SQRT(m2) * SQRT(m2)), 6)
               END AS roll_skew,
               CASE WHEN n >= {RSK_MIN_N} AND m2 > 0
                    THEN ROUND(m4 / (m2 * m2) - 3.0, 6)
               END AS roll_kurt
        FROM m
    """,
    tags=("window", "rolling", "events"),
)
def window_rolling_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING SKEWNESS and EXCESS KURTOSIS over a 25-row frame — the
    shape moments that flag regime changes a rolling mean/stddev
    can't see. The house bit-stability idiom end-to-end: the four
    power sums S₁..S₄ accumulate EXACT integer cents inside the
    window frame (S₄ in DECIMAL(38) — cents⁴ × 25 rows overflows
    int64), every engine-visible float is derived from those exact
    integers through ONE shared expression template (the m₂/m₃/m₄
    central-moment expansions, written in identical operation order
    in both dialects), and frames too small for a third moment emit
    honest NULLs. One shuffle keyed by channel; the frame is
    row-bounded so state is O(window) — the same plan shape as every
    certified rolling carrier (trimmed mean r07-retry, weighted mean
    stock)."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select("event_id", "user_id", "ts", c.alias("c"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-RSK_WINDOW, Window.currentRow)
    )
    cc = F.col("c") * F.col("c")
    s = x.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("c").over(w).cast("double").alias("s1"),
        F.sum(cc).over(w).cast("double").alias("s2"),
        # cc*c in DECIMAL(38,0) like s4: Spark bigint SUM wraps silently
        # (non-ANSI) past int64 while DuckDB promotes to HUGEINT — the
        # decimal accumulator keeps both engines exact at any magnitude
        # (r07 advice)
        F.sum(cc.cast("decimal(38,0)") * F.col("c"))
        .over(w)
        .cast("double")
        .alias("s3"),
        F.sum(cc.cast("decimal(38,0)") * cc.cast("decimal(38,0)"))
        .over(w)
        .cast("double")
        .alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(k) for k in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu
    m4 = (
        s4 / n
        - 4.0 * mu * (s3 / n)
        + 6.0 * mu * mu * (s2 / n)
        - 3.0 * mu * mu * mu * mu
    )
    ok = (n >= RSK_MIN_N) & (m2 > 0)
    return s.select(
        "event_id",
        "user_id",
        n.cast("bigint").alias("n"),
        F.when(ok, F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6))
        .alias("roll_skew"),
        F.when(ok, F.round(m4 / (m2 * m2) - 3.0, 6)).alias("roll_kurt"),
    )


# ---------------------------------------------------------------------------
# rolling: short/long rolling-sum ratio bands (exact integer core)
# ---------------------------------------------------------------------------

RATIO_SHORT = 6   # rows preceding for the short window (7-row frame)
RATIO_LONG = 27   # rows preceding for the long window (28-row frame)


@query(
    "window_rolling_sum_ratio",
    oracle=f"""
        WITH x AS (
            SELECT event_id, user_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events
        ),
        s AS (
            SELECT event_id, user_id,
                   CAST(SUM(c) OVER ws AS BIGINT) AS s_short,
                   CAST(SUM(c) OVER wl AS BIGINT) AS s_long,
                   CAST(COUNT(*) OVER wl AS BIGINT) AS n_long
            FROM x
            WINDOW ws AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN {RATIO_SHORT} PRECEDING AND CURRENT ROW),
                   wl AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN {RATIO_LONG} PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id, s_short, s_long,
               CASE WHEN n_long > {RATIO_LONG}
                    THEN ROUND(4.0 * s_short / s_long, 6) END AS momentum,
               CASE WHEN n_long <= {RATIO_LONG} THEN 'warmup'
                    WHEN 4 * s_short * 10 > s_long * 12 THEN 'hot'
                    WHEN 4 * s_short * 10 < s_long * 8  THEN 'cold'
                    ELSE 'neutral' END AS band
        FROM s
    """,
    tags=("window", "rolling", "events"),
)
def window_rolling_sum_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHORT/LONG rolling-sum MOMENTUM ratio (the 7-vs-28 moving-sum
    crossover, normalized by the 4× window-length factor) with banding
    — and the BAND DECISION made in EXACT INTEGER arithmetic
    (4·s_short·10 vs s_long·12 instead of ratio > 1.2), so the
    classification can never flip on a float ULP; only the reported
    ratio itself is a float (one division, after exact sums). Warmup
    rows (long window not yet full) are labeled honestly instead of
    emitting a biased ratio. Two frames over ONE shuffle (same
    partition/order); state O(window)."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select("event_id", "user_id", "ts", c.alias("c"))
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-RATIO_SHORT, Window.currentRow)
    )
    wl = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-RATIO_LONG, Window.currentRow)
    )
    s = x.select(
        "event_id",
        "user_id",
        F.sum("c").over(ws).cast("bigint").alias("s_short"),
        F.sum("c").over(wl).cast("bigint").alias("s_long"),
        F.count(F.lit(1)).over(wl).cast("bigint").alias("n_long"),
    )
    full = F.col("n_long") > RATIO_LONG
    return s.select(
        "event_id",
        "user_id",
        "s_short",
        "s_long",
        F.when(full, F.round(4.0 * F.col("s_short") / F.col("s_long"), 6))
        .alias("momentum"),
        F.when(~full, "warmup")
        .when(4 * F.col("s_short") * 10 > F.col("s_long") * 12, "hot")
        .when(4 * F.col("s_short") * 10 < F.col("s_long") * 8, "cold")
        .otherwise("neutral")
        .alias("band"),
    )

# ---------------------------------------------------------------------------
# rolling: running-peak drawdown over the per-user cumulative value
# ---------------------------------------------------------------------------


@query(
    "window_rolling_drawdown",
    oracle="""
        WITH x AS (
            SELECT event_id, user_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events
        ),
        cum AS (
            SELECT event_id, user_id,
                   CAST(SUM(c) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_cents
            FROM x
        ),
        pk AS (
            SELECT c.event_id, c.user_id, c.cum_cents,
                   CAST(MAX(c.cum_cents) OVER (PARTITION BY c.user_id
                                               ORDER BY x.ts, c.event_id
                                               ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS peak_cents
            FROM cum c JOIN x USING (event_id, user_id)
        )
        SELECT event_id, user_id, cum_cents, peak_cents,
               peak_cents - cum_cents AS drawdown_cents,
               CASE WHEN peak_cents > 0
                    THEN ROUND(CAST(peak_cents - cum_cents AS DOUBLE)
                               / CAST(peak_cents AS DOUBLE), 6) + 0
               END AS drawdown_frac
        FROM pk
    """,
    tags=("window", "rolling", "events"),
)
def window_rolling_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING-PEAK DRAWDOWN per user: cumulative value (exact integer
    cents), its running maximum (the high-water mark), and the
    drawdown below that peak — absolute and fractional. The risk /
    burn-down statistic every monitoring pipeline derives from a
    cumulative series, and the canonical two-layer window compose
    (running SUM feeding a running MAX — order must carry the unique
    event_id tiebreak on BOTH layers, the house window discipline).
    Everything through drawdown_cents is exact int64 (DuckDB's HUGEINT
    window sums cast back to BIGINT); drawdown_frac is ONE float
    division of those exact integers, rounded with the oracle-side
    ``+ 0`` normalizing DuckDB's -0.0 (cum can exceed peak only at
    equality, so the ratio is >= 0, but ROUND of a 0-valued double is
    exactly the -0.0 class). One shuffle keyed by user; window state
    is O(1) per row — the plan shape survives any SF."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = e.select("event_id", "user_id", "ts", c.alias("c"))
    cum = x.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("c").over(w).cast("bigint").alias("cum_cents"),
    )
    peak = cum.select(
        "event_id",
        "user_id",
        "cum_cents",
        F.max("cum_cents").over(w).cast("bigint").alias("peak_cents"),
    )
    dd = F.col("peak_cents") - F.col("cum_cents")
    return peak.select(
        "event_id",
        "user_id",
        "cum_cents",
        "peak_cents",
        dd.alias("drawdown_cents"),
        F.when(
            F.col("peak_cents") > 0,
            F.round(
                dd.cast("double") / F.col("peak_cents").cast("double"), 6
            ),
        ).alias("drawdown_frac"),
    )


# ---------------------------------------------------------------------------
# topk: tie-aware top-k via dense_rank
# ---------------------------------------------------------------------------

TOPK_TIED_K = 3


@query(
    "topk_tied_dense_rank",
    oracle=f"""
        WITH x AS (
            SELECT o_orderpriority AS priority,
                   strftime(o_orderdate, '%Y-%m-%d') AS odate,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_orderpriority, o_orderdate
        ),
        r AS (
            SELECT priority, odate, n_orders,
                   CAST(DENSE_RANK() OVER (PARTITION BY priority
                                           ORDER BY n_orders DESC)
                        AS BIGINT) AS rnk
            FROM x
        )
        SELECT priority, odate, n_orders, rnk
        FROM r WHERE rnk <= {TOPK_TIED_K}
    """,
    tags=("window", "topk", "orders"),
)
def topk_tied_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIE-AWARE top-k: the k busiest order DATES per priority by
    DENSE_RANK — every date tied at a kept rank survives, so the
    output is a complete answer set rather than an arbitrary
    tie-broken sample (the row_number sibling keeps exactly k rows:
    ``topk_orders_per_customer``, r01). Ranking on an exact integer
    count makes ties REAL and the result deterministic without a
    tiebreak column — which is the point of the dense_rank contract.
    One count shuffle + one partitioned window; at 100 TB the window
    input is already one-row-per-(priority,date), dimension-bounded."""
    o = load_table(spark, sf_dir, "orders")
    x = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    w = Window.partitionBy("priority").orderBy(F.col("n_orders").desc())
    return x.select(
        "*", F.dense_rank().over(w).cast("bigint").alias("rnk")
    ).filter(F.col("rnk") <= TOPK_TIED_K)


# ---------------------------------------------------------------------------
# rolling: exact rolling lower-median and MAD inside a 25-row frame
# ---------------------------------------------------------------------------

RMED_WINDOW = 24  # rows preceding (25-row frame with the current row)


@query(
    "window_rolling_median_mad",
    oracle=f"""
        WITH x AS (
            SELECT event_id, user_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events
        ),
        fr AS (
            SELECT event_id, user_id,
                   list_sort(list(c) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {RMED_WINDOW} PRECEDING AND CURRENT ROW))
                       AS xs
            FROM x
        ),
        med AS (
            SELECT event_id, user_id,
                   CAST(len(xs) AS BIGINT) AS n,
                   CAST(xs[(len(xs) + 1) // 2] AS BIGINT) AS roll_median_c
            FROM fr
        ),
        mad AS (
            SELECT f.event_id, f.user_id, m.n, m.roll_median_c,
                   CAST(list_sort(list_transform(f.xs,
                            v -> abs(v - m.roll_median_c)))
                        [(len(f.xs) + 1) // 2] AS BIGINT) AS roll_mad_c
            FROM fr f JOIN med m
              ON f.event_id = m.event_id AND f.user_id = m.user_id
        )
        SELECT event_id, user_id, n, roll_median_c, roll_mad_c
        FROM mad
    """,
    tags=("window", "rolling", "robust", "events"),
)
def window_rolling_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING LOWER-MEDIAN and MAD over a 25-row frame — the robust
    rolling location/scale pair that a mean/stddev window gets wrong
    on every spike. Both statistics are EXACT INTEGERS by
    construction: frame values are integer cents, the LOWER median is
    the element at rank ⌈n/2⌉ of the sorted frame (declared lower, so
    even frames need no averaging — nothing to ULP), and MAD is the
    lower median of |x − median|. The frame materializes as an in-row
    array (``collect_list`` over the window, O(25) per row — bounded
    state), sorted and indexed with higher-order functions; the oracle
    states the same algebra through DuckDB's windowed list(). One
    shuffle keyed by user (moment-based sibling:
    ``window_rolling_skew_kurt`` r08)."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-RMED_WINDOW, Window.currentRow)
    )
    fr = e.select(
        "event_id",
        "user_id",
        F.array_sort(F.collect_list(c).over(w)).alias("xs"),
    )
    n = F.size("xs")
    med = F.element_at("xs", ((n + 1) / 2).cast("int"))
    withmed = fr.select(
        "event_id",
        "user_id",
        n.cast("bigint").alias("n"),
        med.cast("bigint").alias("roll_median_c"),
        F.array_sort(
            F.transform("xs", lambda v: F.abs(v - med))
        ).alias("devs"),
    )
    mad = F.element_at(
        "devs", ((F.size("devs") + 1) / 2).cast("int")
    )
    return withmed.select(
        "event_id",
        "user_id",
        "n",
        "roll_median_c",
        mad.cast("bigint").alias("roll_mad_c"),
    )


# ---------------------------------------------------------------------------
# rolling: 7-row min/max channel position
# ---------------------------------------------------------------------------

MMPOS_WINDOW = 7


@query(
    "window_rolling_minmax_position",
    oracle=f"""
        WITH x AS (
            SELECT event_id, user_id, ts,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events
        ),
        w AS (
            SELECT event_id, user_id, c,
                   CAST(MIN(c) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS {MMPOS_WINDOW - 1} PRECEDING)
                        AS BIGINT) AS roll_min,
                   CAST(MAX(c) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS {MMPOS_WINDOW - 1} PRECEDING)
                        AS BIGINT) AS roll_max
            FROM x
        )
        SELECT event_id, user_id, c AS cents, roll_min, roll_max,
               CASE WHEN roll_max > roll_min
                    THEN ROUND(CAST(c - roll_min AS DOUBLE)
                               / (roll_max - roll_min), 6)
               END AS channel_pos
        FROM w
    """,
    tags=("window", "rolling", "events"),
)
def window_rolling_minmax_position(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROLLING MIN/MAX CHANNEL POSITION per user: the 7-row trailing
    envelope and where the current value sits inside it ((x−min)/
    (max−min), the %R / stochastic-oscillator statistic every
    monitoring dashboard derives from a bounded window; NULL while
    the envelope is degenerate). Exact integer cents through both
    envelope extremes — MIN/MAX windows are order-insensitive, so no
    fold discipline is needed — and ONE float division at the end
    (non-negative by construction: no -0.0 surface). O(1) window
    state, single shuffle keyed by user, the (ts, event_id) tiebreak
    on both engines."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(MMPOS_WINDOW - 1), Window.currentRow)
    )
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select("event_id", "user_id", "ts", c.alias("c"))
    roll = x.select(
        "event_id",
        "user_id",
        F.col("c").alias("cents"),
        F.min("c").over(w).cast("bigint").alias("roll_min"),
        F.max("c").over(w).cast("bigint").alias("roll_max"),
    )
    spread = F.col("roll_max") - F.col("roll_min")
    return roll.select(
        "event_id",
        "user_id",
        "cents",
        "roll_min",
        "roll_max",
        F.when(
            spread > 0,
            F.round(
                (F.col("cents") - F.col("roll_min")).cast("double") / spread,
                6,
            ),
        ).alias("channel_pos"),
    )
