"""Time-series analytics over the events/orders streams: Markov
transition matrices, autocorrelation (ACF), CUSUM change-point
detection, and day-of-week seasonal indices.

These extend the event-analytics family (sessionization, funnels,
EWMA — `analytics.py`) with the sequence/series diagnostics a
monitoring or forecasting pipeline runs next: "what follows what"
(Markov), "how persistent is the signal" (ACF), "did the level shift"
(CUSUM), and "what is the weekly shape" (seasonality). The reference's
pipeline is a sequence model over audio frames
(`/root/reference/src/voice_classifier.py:200` — temporal conv over
ordered windows); these queries are the relational counterparts of
that temporal structure.

Scale notes:
* Markov: one LEAD window partitioned by user (events are user-keyed,
  so state is O(1) per user-partition run) + one (cur,next)-keyed
  aggregation. The probability normalization windows over the k²-row
  transition AGGREGATE, never the event stream.
* ACF / CUSUM / seasonal: events collapse to a per-DAY aggregate first
  (bounded by calendar span, ~2.4k rows at any SF), and every window
  or self-join runs over that day spine — the 100 TB shape is "reduce
  to the spine, then do the serial math on the spine". The unpartitioned
  windows here span the day aggregate, not data (cf. the distributed-KS
  rework for windows that must span raw rows).
* CUSUM's recursive S_t = max(0, S_{t-1} + y_t) is evaluated in closed
  form (S_t = cum_t − min(0, running-min of cum)) so it stays a pure
  window composition — no iterative driver loop, no UDF.
* Per-day partial sums are ROUNDed before the series math so the
  row-order-dependent low bits of the float SUM can't leak into the
  cross-engine comparison (same idiom as the drift monitor).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.constants import Z95_TWO_SIDED
from big_data_audio_classification_spark.functions.ranks import prefix_sums
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table


@query(
    "events_markov_transitions",
    oracle="""
        WITH pairs AS (
            SELECT event_type AS cur_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        ),
        c AS (
            SELECT cur_type, next_type, COUNT(*) AS n_trans
            FROM pairs WHERE next_type IS NOT NULL
            GROUP BY cur_type, next_type
        )
        SELECT cur_type, next_type, n_trans,
               ROUND(CAST(n_trans AS DOUBLE)
                     / SUM(n_trans) OVER (PARTITION BY cur_type), 6) AS p_next
        FROM c
    """,
    tags=("events", "timeseries", "markov", "window"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next | cur) with exact counts.

    One LEAD window (user-partitioned, ordered by the unique
    (ts, event_id) key so ties can't reorder cross-engine), one
    (cur,next) aggregation; the normalizing SUM window runs over the
    k²-row transition aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("cur_type", "next_type").agg(
        F.count("*").alias("n_trans")
    )
    norm = Window.partitionBy("cur_type")
    return counts.select(
        "cur_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(norm), 6
        ).alias("p_next"),
    )


ACF_MAX_LAG = 14


@query(
    "analytics_acf_daily",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        ),
        m AS (
            SELECT AVG(rev) AS mu,
                   SUM(POWER(rev - (SELECT AVG(rev) FROM daily), 2)) AS ss
            FROM daily
        ),
        lags AS (
            SELECT CAST(UNNEST(generate_series(1, {ACF_MAX_LAG})) AS INTEGER)
                   AS lag_d
        )
        SELECT lag_d,
               COUNT(*) AS n_pairs,
               ROUND(SUM((d1.rev - mu) * (d2.rev - mu)) / MAX(ss), 6) AS acf
        FROM lags
        JOIN daily d1 ON TRUE
        JOIN daily d2 ON d2.d = d1.d + to_days(lag_d)
        CROSS JOIN m
        GROUP BY lag_d
    """,
    tags=("timeseries", "acf", "orders", "join"),
)
def analytics_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily-revenue series at lags 1..14:
    r_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)².

    Orders collapse to the day spine first (one shuffle); the lag
    self-join and moment math run over that bounded aggregate (both
    sides broadcastable). Per-day sums are rounded to cents before the
    series math so float summation order can't diverge engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    # mean + centered sum-of-squares as one broadcastable scalar row
    mu_row = daily.agg(F.avg("rev").alias("mu"))
    ss_row = (
        daily.crossJoin(F.broadcast(mu_row))
        .agg(F.sum(F.pow(F.col("rev") - F.col("mu"), 2)).alias("ss"))
    )
    scalars = F.broadcast(mu_row.crossJoin(ss_row))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag_d")
    )
    d1 = daily.alias("d1")
    d2 = daily.alias("d2")
    joined = (
        F.broadcast(lags)
        .crossJoin(d1)
        .join(d2, F.col("d2.d") == F.expr("date_add(d1.d, lag_d)"))
        .crossJoin(scalars)
    )
    return joined.groupBy("lag_d").agg(
        F.count("*").alias("n_pairs"),
        F.round(
            F.sum(
                (F.col("d1.rev") - F.col("mu")) * (F.col("d2.rev") - F.col("mu"))
            )
            / F.max("ss"),
            6,
        ).alias("acf"),
    )


CUSUM_TOP = 20


@query(
    "events_cusum_changepoint",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, ROUND(AVG(value), 6) AS x
            FROM events GROUP BY 1
        ),
        g AS (
            SELECT AVG(x) AS mu, stddev_pop(x) AS sd FROM daily
        ),
        c AS (
            SELECT d, x, mu, sd,
                   SUM(x - mu - 0.5 * sd) OVER (ORDER BY d) AS cum
            FROM daily CROSS JOIN g
        ),
        s AS (
            SELECT d, x, sd,
                   cum - LEAST(0, MIN(cum) OVER (ORDER BY d)) AS s_pos
            FROM c
        )
        SELECT CAST(d AS VARCHAR) AS d, ROUND(x, 6) AS day_mean,
               ROUND(s_pos, 6) AS cusum_pos,
               CASE WHEN s_pos > 4 * sd THEN TRUE ELSE FALSE END AS alarm
        FROM s
        ORDER BY ROUND(s_pos, 6) DESC, d
        LIMIT {CUSUM_TOP}
    """,
    tags=("timeseries", "cusum", "events", "window"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point screen on the daily mean of
    `events.value`: S_t = max(0, S_{t-1} + (x_t − μ − 0.5σ)), alarm at
    S_t > 4σ; top-20 days by CUSUM height.

    The recursion is evaluated in CLOSED FORM — S_t = cum_t − min(0,
    min_{j≤t} cum_j) — so the whole statistic is two running windows
    over the ~2.4k-row day aggregate; no iterative loop, no UDF, and
    the running sums evaluate left-to-right identically in both
    engines. Top-20 via TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("x"))
    )
    g = F.broadcast(
        daily.agg(F.avg("x").alias("mu"), F.stddev_pop("x").alias("sd"))
    )
    wcum = Window.orderBy("d")  # spans the day aggregate, not raw events
    c = daily.crossJoin(g).withColumn(
        "cum",
        F.sum(F.col("x") - F.col("mu") - 0.5 * F.col("sd")).over(wcum),
    )
    s = c.withColumn(
        "s_pos", F.col("cum") - F.least(F.lit(0.0), F.min("cum").over(wcum))
    )
    return (
        s.select(
            F.col("d").cast("string").alias("d"),
            F.round("x", 6).alias("day_mean"),
            F.round("s_pos", 6).alias("cusum_pos"),
            (F.col("s_pos") > 4 * F.col("sd")).alias("alarm"),
        )
        .orderBy(F.col("cusum_pos").desc(), "d")
        .limit(CUSUM_TOP)
    )


@query(
    "events_seasonal_dow_index",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, ROUND(SUM(value), 6) AS v
            FROM events GROUP BY 1
        ),
        g AS (SELECT AVG(v) AS gmu FROM daily)
        SELECT EXTRACT(ISODOW FROM d) AS dow,
               COUNT(*) AS n_days,
               ROUND(AVG(v), 6) AS dow_mean,
               ROUND(AVG(v) / MAX(gmu), 6) AS seasonal_index
        FROM daily CROSS JOIN g
        GROUP BY 1
    """,
    tags=("timeseries", "seasonality", "events"),
)
def events_seasonal_dow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices of daily event value: mean per ISO
    weekday over the global daily mean (index > 1 = above-trend day).

    One reduction to the day spine, one 7-row aggregation over it with
    a broadcast scalar. ISO weekday (1=Mon) is stated explicitly in
    both engines (Spark's default dayofweek is Sunday-based)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    g = F.broadcast(daily.agg(F.avg("v").alias("gmu")))
    return (
        daily.crossJoin(g)
        .groupBy((F.weekday("d") + F.lit(1)).cast("bigint").alias("dow"))
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.avg("v"), 6).alias("dow_mean"),
            F.round(F.avg("v") / F.max("gmu"), 6).alias("seasonal_index"),
        )
    )


FC_SEASON = 7  # seasonal-naive horizon (days)


@query(
    "analytics_forecast_eval",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        ),
        fc AS (
            SELECT a.d, a.rev AS actual, f.rev AS forecast
            FROM daily a JOIN daily f ON a.d = f.d + to_days({FC_SEASON})
        ),
        nv AS (
            SELECT a.d, ABS(a.rev - p.rev) AS naive_ae
            FROM daily a JOIN daily p ON a.d = p.d + to_days(1)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
               ROUND(AVG(ABS(actual - forecast)), 2) AS mae,
               ROUND(AVG(ABS(actual - forecast) / ABS(actual)), 6) AS mape,
               ROUND(AVG(2 * ABS(actual - forecast)
                         / (ABS(actual) + ABS(forecast))), 6) AS smape,
               ROUND(AVG(ABS(actual - forecast))
                     / (SELECT AVG(naive_ae) FROM nv), 6) AS mase
        FROM fc
    """,
    tags=("timeseries", "forecast", "orders", "join"),
)
def analytics_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality scorecard for the seasonal-naive baseline
    (forecast day t = actual at t−7): MAE, MAPE, SMAPE, and MASE
    (scaled by the one-step-naive in-sample MAE, the standard
    scale-free denominator).

    Both the forecast pairing and the naive-1 denominator are
    day-offset equi-joins over the ~2.4k-row day spine — the raw
    orders stream is touched exactly once (the per-day reduction).
    This is the evaluation harness a forecasting pipeline runs per
    model; the seasonal-naive column doubles as the MASE reference."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
        .localCheckpoint(eager=True)  # spine reused by three consumers
    )
    a, f_, p = daily.alias("a"), daily.alias("f"), daily.alias("p")
    fc = a.join(f_, F.col("a.d") == F.expr("date_add(f.d, " + str(FC_SEASON) + ")"))
    nv = (
        daily.alias("a2")
        .join(p, F.col("a2.d") == F.expr("date_add(p.d, 1)"))
        .agg(F.avg(F.abs(F.col("a2.rev") - F.col("p.rev"))).alias("naive_mae"))
    )
    err = F.abs(F.col("a.rev") - F.col("f.rev"))
    return (
        fc.crossJoin(F.broadcast(nv))
        .agg(
            F.count("*").alias("n_forecasts"),
            F.round(F.avg(err), 2).alias("mae"),
            F.round(F.avg(err / F.abs(F.col("a.rev"))), 6).alias("mape"),
            F.round(
                F.avg(
                    2 * err / (F.abs(F.col("a.rev")) + F.abs(F.col("f.rev")))
                ),
                6,
            ).alias("smape"),
            F.round(F.avg(err) / F.max("naive_mae"), 6).alias("mase"),
        )
    )


PATH_TOP = 10


@query(
    "events_top_paths",
    oracle=f"""
        WITH seq AS (
            SELECT event_type AS e1,
                   LEAD(event_type, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS e2,
                   LEAD(event_type, 2) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS e3
            FROM events
        )
        SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM seq
        WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY e1, e2, e3
        ORDER BY n_paths DESC, e1, e2, e3
        LIMIT {PATH_TOP}
    """,
    tags=("events", "timeseries", "path-analysis", "window", "topk"),
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent 3-step behavioral paths (event-type
    trigrams within each user's timeline) — the path-analysis query
    behind journey/funnel exploration UIs.

    Two LEADs in ONE user-partitioned window pass (same sort serves
    both), a trigram aggregation whose key space is k³ (tiny), and
    TakeOrderedAndProject for the top-10 — no global sort, no
    self-joins (the naive form is two self-joins on consecutive
    ranks)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(PATH_TOP)
    )


MIGRATION_SPLIT = "1998-07-01"


@query(
    "analytics_segment_migration",
    oracle=f"""
        WITH h1 AS (
            SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend
            FROM orders WHERE CAST(o_orderdate AS DATE) < '{MIGRATION_SPLIT}'
            GROUP BY o_custkey
        ),
        h2 AS (
            SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend
            FROM orders WHERE CAST(o_orderdate AS DATE) >= '{MIGRATION_SPLIT}'
            GROUP BY o_custkey
        ),
        q1 AS (
            SELECT o_custkey,
                   NTILE(5) OVER (ORDER BY spend, o_custkey) AS seg_before
            FROM h1
        ),
        q2 AS (
            SELECT o_custkey,
                   NTILE(5) OVER (ORDER BY spend, o_custkey) AS seg_after
            FROM h2
        ),
        mat AS (
            SELECT seg_before, seg_after, CAST(COUNT(*) AS BIGINT) AS n_customers
            FROM q1 JOIN q2 USING (o_custkey)
            GROUP BY seg_before, seg_after
        )
        SELECT CAST(seg_before AS INTEGER) AS seg_before,
               CAST(seg_after AS INTEGER) AS seg_after,
               n_customers,
               ROUND(CAST(n_customers AS DOUBLE)
                     / SUM(n_customers) OVER (PARTITION BY seg_before), 6)
                   AS p_move
        FROM mat
    """,
    tags=("timeseries", "analytics", "migration", "window", "orders"),
)
def analytics_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix: spend quintile in the first
    half of the timeline vs the second (the entity-state counterpart
    of the event-type Markov matrix) — P(move to segment j | was in
    segment i) for customers active in both halves.

    One per-(half, customer) collapse, one regroup by custkey that
    pairs each customer's two halves, and the normalization window runs
    over the 25-row matrix.
    Spend is rounded to cents before ranking so float sum order can't
    flip a quintile boundary; (spend, custkey) ordering makes NTILE
    deterministic under ties.

    The oracle states the textbook NTILE; the engine assigns quintiles
    WITHOUT ranking the customer frame in one task (r11 — the former
    form ran two single-partition NTILE windows over customer-grain
    frames): each row's exact GLOBAL rank in the total (spend, custkey)
    order comes from ``functions.ranks.prefix_sums`` (bucket-ledger
    offset + a running count in a window PARTITIONED by bucket), and
    NTILE(5) of a rank is a closed form of n alone: 1 + #{i in 1..4 :
    rank > i·⌊n/5⌋ + min(i, n mod 5)} — four integer comparisons, no
    global sort anywhere."""
    o = load_table(spark, sf_dir, "orders")
    d, split = F.col("o_orderdate").cast("date"), F.lit(MIGRATION_SPLIT).cast("date")
    # both halves rank in one pass, grouped by half; the customer frame
    # is checkpointed because the rank module reads it several times
    half = F.when(d < split, 0).when(d >= split, 1)
    h = (
        o.select(half.alias("half"), "o_custkey", "o_totalprice")
        .where(F.col("half").isNotNull())
        .groupBy("half", "o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .localCheckpoint(eager=False)
    )
    r = prefix_sums(h, "spend", {"one": F.lit(1)}, by=["half"], ties=["o_custkey"])
    rk = F.col("one_before") + 1
    q_ = F.floor(F.col("one_total") / 5)
    rem = F.col("one_total") % 5
    seg = F.lit(1)
    for i in range(1, 5):
        seg = seg + F.when(rk > i * q_ + F.least(F.lit(i), rem), 1).otherwise(0)
    mat = (
        r.groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("half") == 0, seg)).alias("seg_before"),
            F.max(F.when(F.col("half") == 1, seg)).alias("seg_after"),
        )
        .dropna()
        .groupBy("seg_before", "seg_after")
        .agg(F.count("*").alias("n_customers"))
    )
    norm = Window.partitionBy("seg_before")
    return mat.select(
        F.col("seg_before").cast("int").alias("seg_before"),
        F.col("seg_after").cast("int").alias("seg_after"),
        "n_customers",
        F.round(
            F.col("n_customers").cast("double")
            / F.sum("n_customers").over(norm),
            6,
        ).alias("p_move"),
    )


COVER_PAD_S = 150  # activity interval: event ±150 s


@query(
    "events_interval_coverage",
    oracle=f"""
        WITH iv AS (
            SELECT user_id,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) - {COVER_PAD_S} AS s,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) + {COVER_PAD_S} AS e
            FROM events
        ),
        flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), -1e18) THEN 1 ELSE 0 END AS new_island
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   SUM(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, e
                   ) AS island_id
            FROM flagged
        ),
        merged AS (
            SELECT user_id, island_id,
                   MIN(s) AS island_start, MAX(e) AS island_end
            FROM islands GROUP BY user_id, island_id
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(island_end - island_start) AS BIGINT)
                   AS covered_seconds
        FROM merged GROUP BY user_id
    """,
    tags=("events", "timeseries", "intervals", "window"),
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union length per user: pad each event to a ±150 s
    activity interval and measure the total time covered by the UNION
    of those intervals (overlaps merged, not double-counted) — the
    "true active time" metric naive SUM(duration) overstates.

    Classic sweep: per-user sort by start, an island starts where the
    start exceeds the running max of all previous ends, islands merge
    by (min start, max end), lengths sum. Two user-partitioned windows
    + two aggregations; epoch-second integers end to end, so the
    cross-engine comparison is exact."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        (F.unix_timestamp("ts") - COVER_PAD_S).alias("s"),
        (F.unix_timestamp("ts") + COVER_PAD_S).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(w_prev), F.lit(-1e18)),
            1,
        ).otherwise(0),
    )
    w_cum = Window.partitionBy("user_id").orderBy("s", "e")
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(w_cum)
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start"))
        .cast("bigint")
        .alias("covered_seconds"),
    )


@query(
    "events_rolling_active_users",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ),
        days AS (SELECT DISTINCT d FROM ud),
        wau AS (
            SELECT days.d AS day, COUNT(DISTINCT ud.user_id) AS wau_7d
            FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
            GROUP BY days.d
        ),
        dau AS (
            SELECT d AS day, COUNT(DISTINCT user_id) AS dau
            FROM ud GROUP BY d
        )
        SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau_7d,
               ROUND(CAST(dau.dau AS DOUBLE) / wau.wau_7d, 4) AS stickiness
        FROM dau JOIN wau ON dau.day = wau.day
    """,
    tags=("events", "timeseries", "rolling", "distinct", "window"),
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (WAU) per observed day, plus
    DAU and the DAU/WAU stickiness ratio — the engagement dashboard
    query whose naive form is a per-day range-joined COUNT(DISTINCT).

    Window frames can't host COUNT(DISTINCT), and a per-day range join
    against the raw stream is |days|x|events|. The engine form is the
    bounded FAN-OUT idiom: dedup to (user, day) once, explode each
    user-day to the <=7 trailing days it covers (``sequence`` +
    ``explode`` — a x7 row multiplier, NOT a join), keep covered days
    that exist in the observed-day spine (broadcast — the spine is
    calendar-bounded), and run ONE distinct-count aggregation keyed by
    day. Shuffles: the (user, day) dedup, then the day-keyed counts;
    the same shape at any SF. The DuckDB oracle states the naive
    range-join definition, so the gate proves fan-out == range join."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    days = ud.select("d").distinct()
    covered = ud.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    wau = (
        covered.join(F.broadcast(days.select(F.col("d").alias("day"))), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau_7d"))
    )
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    return dau.join(wau, "day").select(
        F.col("day").cast("string").alias("day"),
        "dau",
        "wau_7d",
        F.round(F.col("dau").cast("double") / F.col("wau_7d"), 4).alias(
            "stickiness"
        ),
    )


@query(
    "analytics_stl_decomposition",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        ),
        tr AS (
            SELECT d, rev,
                   CASE WHEN COUNT(*) OVER w7 = 7
                        THEN ROUND(AVG(rev) OVER w7, 4) END AS trend
            FROM daily
            WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        dt AS (
            SELECT *, EXTRACT(ISODOW FROM d) AS dow,
                   rev - trend AS detr
            FROM tr
        ),
        sidx AS (
            SELECT dow, AVG(detr) AS s_raw
            FROM dt WHERE detr IS NOT NULL GROUP BY dow
        ),
        sc AS (
            SELECT dow,
                   ROUND(s_raw - AVG(s_raw) OVER (), 4) AS seasonal
            FROM sidx
        ),
        rem AS (
            SELECT dt.d, dt.rev, dt.trend, sc.seasonal,
                   ROUND(dt.rev - dt.trend - sc.seasonal, 4) AS remainder
            FROM dt JOIN sc ON dt.dow = sc.dow
        ),
        m AS (
            SELECT MEDIAN(remainder) AS med FROM rem
        ),
        mad AS (
            SELECT MEDIAN(ABS(remainder - med)) AS mad FROM rem CROSS JOIN m
        )
        SELECT CAST(rem.d AS VARCHAR) AS d, rem.rev, rem.trend,
               rem.seasonal, rem.remainder,
               CASE WHEN remainder IS NULL OR mad = 0 THEN NULL
                    ELSE ROUND(0.6745 * (remainder - med) / mad, 4)
               END AS robust_z,
               CASE WHEN remainder IS NULL OR mad = 0 THEN NULL
                    ELSE ABS(0.6745 * (remainder - med) / mad) > 3.5
               END AS is_anomaly
        FROM rem CROSS JOIN m CROSS JOIN mad
    """,
    tags=("timeseries", "decomposition", "anomaly", "window"),
)
def analytics_stl_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal-trend decomposition of daily revenue
    with a MAD-robust anomaly flag on the remainder: trend = centered
    7-day moving average (full windows only), seasonal = mean-centered
    ISO-weekday index of the detrended series, remainder = rev - trend
    - seasonal, anomaly when the modified z-score |0.6745*(r-med)/MAD|
    exceeds 3.5 (the Iglewicz-Hoaglin screen, cf. ``stats_mad_outliers``).

    The 100 TB shape: raw orders collapse to the calendar-bounded day
    spine FIRST; every window (moving average, seasonal centering) and
    both medians run over that spine or the 7-row index table, never
    over raw rows. Per-day sums are rounded before the series math so
    float sum-order low bits can't leak cross-engine (house idiom)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "rev",
        F.when(F.count("*").over(w7) == 7, F.round(F.avg("rev").over(w7), 4)).alias(
            "trend"
        ),
    )
    dt = tr.withColumn("dow", (F.weekday("d") + F.lit(1)).cast("bigint")).withColumn(
        "detr", F.col("rev") - F.col("trend")
    )
    sidx = dt.where(F.col("detr").isNotNull()).groupBy("dow").agg(
        F.avg("detr").alias("s_raw")
    )
    sc = sidx.select(
        "dow",
        F.round(
            F.col("s_raw") - F.avg("s_raw").over(Window.partitionBy()), 4
        ).alias("seasonal"),
    )
    rem = dt.join(F.broadcast(sc), "dow").select(
        "d",
        "rev",
        "trend",
        "seasonal",
        F.round(F.col("rev") - F.col("trend") - F.col("seasonal"), 4).alias(
            "remainder"
        ),
    )
    m = rem.agg(F.median("remainder").alias("med"))
    madt = (
        rem.crossJoin(F.broadcast(m))
        .agg(F.median(F.abs(F.col("remainder") - F.col("med"))).alias("mad"))
    )
    z = 0.6745 * (F.col("remainder") - F.col("med")) / F.col("mad")
    guard = F.col("remainder").isNull() | (F.col("mad") == 0)
    return (
        rem.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(madt))
        .select(
            F.col("d").cast("string").alias("d"),
            "rev",
            "trend",
            "seasonal",
            "remainder",
            F.when(~guard, F.round(z, 4)).alias("robust_z"),
            F.when(~guard, F.abs(z) > 3.5).alias("is_anomaly"),
        )
    )


@query(
    "stats_theil_sen",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        ),
        dx AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS x,
                   rev
            FROM daily
        ),
        slopes AS (
            SELECT (b.rev - a.rev) / (b.x - a.x) AS m
            FROM dx a JOIN dx b ON a.x < b.x
        ),
        s AS (
            SELECT ROUND(MEDIAN(m), 6) AS ts_slope,
                   COUNT(*) AS n_pairs
            FROM slopes
        ),
        i AS (
            SELECT ROUND(MEDIAN(rev - ts_slope * x), 4) AS ts_intercept
            FROM dx CROSS JOIN s
        ),
        o AS (
            SELECT ROUND(REGR_SLOPE(rev, x), 6) AS ols_slope,
                   ROUND(REGR_INTERCEPT(rev, x), 4) AS ols_intercept,
                   COUNT(*) AS n_days
            FROM dx
        )
        SELECT n_days, n_pairs, ts_slope, ts_intercept, ols_slope, ols_intercept
        FROM o CROSS JOIN s CROSS JOIN i
    """,
    tags=("timeseries", "stats", "regression", "robust"),
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate of daily revenue — the median of
    all pairwise slopes (breakdown point 29%, immune to the outlier
    days that drag OLS around) with the Sen intercept
    median(y - m*x), reported next to the OLS fit for comparison.

    Pairwise slopes look quadratic but the self-join runs over the
    calendar-bounded DAY SPINE (~2.4k days -> ~2.9M pairs), never raw
    orders: cost grows with time-span squared, not data volume. Both
    medians aggregate the bounded pair/spine tables (single small-group
    buffer, same envelope as the spine itself). x is integer epoch-days
    and per-day revenue is rounded first, so the slope arithmetic is
    bit-identical cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    dx = daily.select(
        F.datediff("d", F.lit("1970-01-01").cast("date")).cast("bigint").alias("x"),
        "rev",
    )
    a, b = dx.alias("a"), dx.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.x") - F.col("a.x"))).alias("m")
    )
    s = slopes.agg(
        F.round(F.median("m"), 6).alias("ts_slope"),
        F.count("*").alias("n_pairs"),
    )
    i = (
        dx.crossJoin(F.broadcast(s.select("ts_slope")))
        .agg(
            F.round(
                F.median(F.col("rev") - F.col("ts_slope") * F.col("x")), 4
            ).alias("ts_intercept")
        )
    )
    ols = dx.agg(
        F.round(F.regr_slope("rev", "x"), 6).alias("ols_slope"),
        F.round(F.regr_intercept("rev", "x"), 4).alias("ols_intercept"),
        F.count("*").alias("n_days"),
    )
    return (
        ols.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(i))
        .select(
            "n_days", "n_pairs", "ts_slope", "ts_intercept",
            "ols_slope", "ols_intercept",
        )
    )


@query(
    "stats_mann_kendall_trend",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        ),
        dx AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS x,
                   rev
            FROM daily
        ),
        s AS (
            SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                                 WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                        AS BIGINT) AS s_stat
            FROM dx a JOIN dx b ON a.x < b.x
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM dx),
        ties AS (
            SELECT COALESCE(CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
                       AS tie_var_term,
                   COALESCE(CAST(SUM(t * (t - 1) / 2) AS BIGINT), 0)
                       AS tie_pair_term
            FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev) g
            WHERE t > 1
        ),
        calc AS (
            SELECT n_days, s_stat,
                   (n_days * (n_days - 1) * (2 * n_days + 5) - tie_var_term)
                       / 18.0 AS var_s,
                   n_days * (n_days - 1) / 2 - tie_pair_term AS d_rev,
                   n_days * (n_days - 1) / 2 AS d_full
            FROM s CROSS JOIN n CROSS JOIN ties
        )
        SELECT n_days, s_stat,
               ROUND(var_s, 2) AS var_s,
               ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                          WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                          ELSE 0.0 END, 4) AS z,
               ROUND(s_stat / SQRT(CAST(d_rev AS DOUBLE) * d_full), 6)
                   AS kendall_tau_b,
               CASE WHEN (CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                               WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                               ELSE 0.0 END) > {Z95_TWO_SIDED} THEN 'increasing'
                    WHEN (CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                               WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                               ELSE 0.0 END) < -{Z95_TWO_SIDED} THEN 'decreasing'
                    ELSE 'no trend' END AS trend
        FROM calc
    """,
    tags=("timeseries", "stats", "hypothesis-test", "robust"),
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on daily revenue — the
    non-parametric companion to ``stats_theil_sen`` (the pair): S = Σ
    sign(y_j − y_i) over ordered pairs, tie-corrected variance
    (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18, continuity-corrected z, plus
    Kendall's τ-b effect size, decided against the fixed ±1.96 critical
    value (no CDF — house contract).

    Everything is INTEGER until the final divisions: sign sums, tie
    counts, and pair counts are exact bigints over the calendar-bounded
    day-spine pair join, so the z and τ arithmetic is bit-identical
    cross-engine. Same scale envelope as Theil-Sen: cost grows with
    time-span², never data volume."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    dx = daily.select(
        F.datediff("d", F.lit("1970-01-01").cast("date")).cast("bigint").alias("x"),
        "rev",
    )
    a, b = dx.alias("a"), dx.alias("b")
    s = a.join(b, F.col("a.x") < F.col("b.x")).agg(
        F.sum(
            F.when(F.col("b.rev") > F.col("a.rev"), 1)
            .when(F.col("b.rev") < F.col("a.rev"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    n = dx.agg(F.count("*").cast("bigint").alias("n_days"))
    t = F.col("t")
    ties = (
        daily.groupBy("rev")
        .agg(F.count("*").alias("t"))
        .where(t > 1)
        .agg(
            F.coalesce(
                F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint"), F.lit(0)
            ).alias("tie_var_term"),
            F.coalesce(
                F.sum(t * (t - 1) / 2).cast("bigint"), F.lit(0)
            ).alias("tie_pair_term"),
        )
    )
    nd, ss = F.col("n_days"), F.col("s_stat")
    var_s = (nd * (nd - 1) * (2 * nd + 5) - F.col("tie_var_term")) / 18.0
    d_full = nd * (nd - 1) / 2
    d_rev = d_full - F.col("tie_pair_term")
    z = (
        F.when(ss > 0, (ss - 1) / F.sqrt(var_s))
        .when(ss < 0, (ss + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_days",
            "s_stat",
            F.round(var_s, 2).alias("var_s"),
            F.round(z, 4).alias("z"),
            F.round(ss / F.sqrt(d_rev.cast("double") * d_full), 6).alias(
                "kendall_tau_b"
            ),
            F.when(z > Z95_TWO_SIDED, "increasing")
            .when(z < -Z95_TWO_SIDED, "decreasing")
            .otherwise("no trend")
            .alias("trend"),
        )
    )


@query(
    "events_cumulative_distinct_users",
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events GROUP BY user_id
        ),
        days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        adds AS (
            SELECT first_day AS day, COUNT(*) AS new_users
            FROM firsts GROUP BY first_day
        )
        SELECT CAST(d.day AS VARCHAR) AS day,
               COALESCE(a.new_users, 0) AS new_users,
               CAST(SUM(COALESCE(a.new_users, 0)) OVER (ORDER BY d.day)
                    AS BIGINT) AS cumulative_users
        FROM days d LEFT JOIN adds a ON a.day = d.day
    """,
    tags=("events", "timeseries", "distinct", "window", "growth"),
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users ever seen, per day (the growth-curve
    query). A windowed COUNT(DISTINCT) is unsupported and the naive
    day-by-day distinct is |days| passes; the engine form is the
    FIRST-SEEN reduction: each user contributes once at MIN(day), new
    users per day aggregate to the calendar-bounded spine, and one
    running sum over that spine yields the cumulative count. Two keyed
    aggregations; the only window runs over ~spine rows."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    days = e.select(F.col("ts").cast("date").alias("day")).distinct()
    adds = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day")
    return (
        days.join(F.broadcast(adds), "day", "left")
        .select("day", F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"))
        .withColumn("cumulative_users", F.sum("new_users").over(w))
        .select(
            F.col("day").cast("string").alias("day"),
            "new_users",
            "cumulative_users",
        )
    )


import math as _math

# sin/cos(2πk/7) for k=0..6 as shortest-round-trip literals: the SAME
# double constants are embedded in the Spark plan and the oracle SQL, so
# no cross-engine libm call (whose last ulp may differ) is ever taken.
_SIN7 = [repr(_math.sin(2 * _math.pi * k / 7)) for k in range(7)]
_COS7 = [repr(_math.cos(2 * _math.pi * k / 7)) for k in range(7)]


def _case7(col: str, lits: list[str]) -> str:
    return (
        "CASE "
        + " ".join(f"WHEN {col} = {k} THEN {v}" for k, v in enumerate(lits))
        + " END"
    )


@query(
    "analytics_harmonic_fit",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        ),
        f AS (
            SELECT rev,
                   {_case7("(EXTRACT(ISODOW FROM d) - 1)", _SIN7)} AS s,
                   {_case7("(EXTRACT(ISODOW FROM d) - 1)", _COS7)} AS c
            FROM daily
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   AVG(rev) AS my, AVG(s) AS ms, AVG(c) AS mc,
                   covar_pop(s, rev) AS csy,
                   covar_pop(c, rev) AS ccy,
                   covar_pop(s, c)   AS csc,
                   var_pop(s) AS vs, var_pop(c) AS vc, var_pop(rev) AS vy
            FROM f
        )
        SELECT n_days,
               ROUND((csy*vc - ccy*csc) / (vs*vc - csc*csc), 4) AS b_sin,
               ROUND((ccy*vs - csy*csc) / (vs*vc - csc*csc), 4) AS b_cos,
               ROUND(my - (csy*vc - ccy*csc) / (vs*vc - csc*csc) * ms
                        - (ccy*vs - csy*csc) / (vs*vc - csc*csc) * mc, 4)
                   AS level,
               ROUND(SQRT(POWER((csy*vc - ccy*csc) / (vs*vc - csc*csc), 2)
                          + POWER((ccy*vs - csy*csc) / (vs*vc - csc*csc), 2)),
                     4) AS amplitude,
               ROUND(((csy*vc - ccy*csc) * csy + (ccy*vs - csy*csc) * ccy)
                     / ((vs*vc - csc*csc) * vy), 8) AS r2
        FROM m
    """,
    tags=("timeseries", "seasonality", "regression", "closed-form"),
)
def analytics_harmonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-harmonic Fourier fit of the weekly cycle in daily revenue:
    OLS of rev on (sin, cos) of the weekday angle 2πk/7, solved by the
    2-feature covariance Cramer (``ml_ols_normal_equations`` pattern) —
    level, sin/cos coefficients, the weekly AMPLITUDE sqrt(b²+c²), and
    the share of daily variance the single harmonic explains (r²). The
    spectral companion to ``events_seasonal_dow_index``'s categorical
    indices.

    Cross-engine determinism: only 7 distinct angles exist, so their
    sin/cos are embedded as shortest-round-trip LITERALS shared by both
    engines — no runtime libm call whose final ulp could differ. All
    aggregates run over the calendar-bounded day spine."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    sin_arr = F.array(*[F.lit(float(v)) for v in _SIN7])
    cos_arr = F.array(*[F.lit(float(v)) for v in _COS7])
    f = daily.select(
        "rev",
        F.element_at(sin_arr, F.weekday("d") + 1).alias("s"),
        F.element_at(cos_arr, F.weekday("d") + 1).alias("c"),
    )
    m = f.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.avg("rev").alias("my"), F.avg("s").alias("ms"), F.avg("c").alias("mc"),
        F.covar_pop("s", "rev").alias("csy"),
        F.covar_pop("c", "rev").alias("ccy"),
        F.covar_pop("s", "c").alias("csc"),
        F.var_pop("s").alias("vs"), F.var_pop("c").alias("vc"),
        F.var_pop("rev").alias("vy"),
    )
    det = F.col("vs") * F.col("vc") - F.col("csc") * F.col("csc")
    b_sin = (F.col("csy") * F.col("vc") - F.col("ccy") * F.col("csc")) / det
    b_cos = (F.col("ccy") * F.col("vs") - F.col("csy") * F.col("csc")) / det
    return m.select(
        "n_days",
        F.round(b_sin, 4).alias("b_sin"),
        F.round(b_cos, 4).alias("b_cos"),
        F.round(
            F.col("my") - b_sin * F.col("ms") - b_cos * F.col("mc"), 4
        ).alias("level"),
        F.round(F.sqrt(b_sin * b_sin + b_cos * b_cos), 4).alias("amplitude"),
        F.round(
            (b_sin * F.col("csy") + b_cos * F.col("ccy")) / F.col("vy"), 8
        ).alias("r2"),
    )


@query(
    "window_rolling_median",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   ROUND(SUM(o_totalprice), 2) AS rev
            FROM orders GROUP BY 1
        )
        SELECT CAST(d AS VARCHAR) AS d, rev,
               CASE WHEN COUNT(*) OVER w7 = 7
                    THEN ROUND(MEDIAN(rev) OVER w7, 4) END AS med7,
               CASE WHEN COUNT(*) OVER w7 = 7
                    THEN ROUND(rev - MEDIAN(rev) OVER w7, 4) END AS resid
        FROM daily
        WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
    tags=("timeseries", "window", "robust", "median"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-day rolling MEDIAN of daily revenue (the robust
    smoother: one outlier day cannot move it, unlike the moving average
    in ``analytics_stl_decomposition``), full windows only, plus the
    residual against the smoother.

    Spark rejects median()/percentile() with a window FRAME, so the
    engine form is the sorted-frame-array idiom: collect the ≤7-row
    frame, array_sort, take the 4th element — for a full 7-row window
    that IS the median (odd count, no interpolation), bounded state by
    construction. Inputs are the rounded per-day sums and the middle
    element is an exact pick, so the value is identical cross-engine.
    The only window runs over the calendar-bounded day spine."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    arr = F.array_sort(F.collect_list("rev").over(w7))
    full = F.size(arr) == 7
    med = F.element_at(arr, 4)
    return daily.select(
        F.col("d").cast("string").alias("d"),
        "rev",
        F.when(full, F.round(med, 4)).alias("med7"),
        F.when(full, F.round(F.col("rev") - med, 4)).alias("resid"),
    )


_SAX_SEG_DAYS = 7
_SAX_BP = 0.6745  # gaussian quartile breakpoints for a 4-symbol alphabet


@query(
    "timeseries_paa_sax",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS day_cents
            FROM orders GROUP BY 1
        ),
        anchor AS (SELECT MIN(d) AS d0 FROM daily),
        stats AS (
            SELECT COUNT(*) AS n_days,
                   CAST(SUM(day_cents) AS BIGINT) AS s1,
                   SUM(day_cents * day_cents) AS s2
            FROM daily
        ),
        segs AS (
            SELECT (daily.d - anchor.d0) // {_SAX_SEG_DAYS} AS seg_no,
                   COUNT(*) AS n_days_seg,
                   CAST(SUM(day_cents) AS BIGINT) AS s_seg
            FROM daily CROSS JOIN anchor
            GROUP BY 1
        ),
        z AS (
            SELECT seg_no, n_days_seg,
                   (s_seg * 1.0 / n_days_seg - s1 * 1.0 / n_days)
                   / SQRT(s2 * 1.0 / n_days
                          - POWER(s1 * 1.0 / n_days, 2)) AS zval
            FROM segs CROSS JOIN stats
        )
        SELECT seg_no, n_days_seg,
               ROUND(zval, 6) AS z,
               CASE WHEN zval < -{_SAX_BP} THEN 'a'
                    WHEN zval < 0 THEN 'b'
                    WHEN zval < {_SAX_BP} THEN 'c'
                    ELSE 'd' END AS symbol
        FROM z
        ORDER BY seg_no
    """,
    tags=("timeseries", "orders", "pattern", "sketch"),
)
def timeseries_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA + SAX symbolization of the daily-revenue series (Lin/Keogh):
    7-day Piecewise Aggregate Approximation means, z-normalized and
    mapped onto a 4-symbol gaussian-breakpoint alphabet — the classic
    time-series-mining representation for motif/novelty discovery over
    very long series.

    Determinism: every statistic derives from exact integer cent sums
    (daily sums, series Σx and Σx² — the x² sum rides DuckDB's HUGEINT
    vs Spark's wide-decimal, both exact) so both engines z-score and
    bin identical doubles; breakpoints are literal constants.

    100 TB design: one date-keyed aggregate over the fact table, then
    segment/series levels operate on the tiny daily frame (1-row
    anchor and stats frames broadcast) — the spine-shaped plan family
    of §9; symbols per segment make downstream motif mining a simple
    n-gram groupBy over a frame thousands of times smaller than the
    raw series.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("day_cents")
    )
    anchor = daily.agg(F.min("d").alias("d0"))
    stats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("day_cents").cast("bigint").alias("s1"),
        F.sum(
            F.col("day_cents").cast("decimal(19,0)")
            * F.col("day_cents").cast("decimal(19,0)")
        ).alias("s2"),
    )
    segs = (
        daily.crossJoin(F.broadcast(anchor))
        .groupBy(
            F.floor(F.datediff("d", "d0") / _SAX_SEG_DAYS)
            .cast("bigint")
            .alias("seg_no")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days_seg"),
            F.sum("day_cents").cast("bigint").alias("s_seg"),
        )
    )
    mu = F.col("s1") * 1.0 / F.col("n_days")
    sigma = F.sqrt(
        F.col("s2").cast("double") / F.col("n_days") - mu * mu
    )
    zval = (F.col("s_seg") * 1.0 / F.col("n_days_seg") - mu) / sigma
    return (
        segs.crossJoin(F.broadcast(stats))
        .select(
            "seg_no",
            "n_days_seg",
            F.round(zval, 6).alias("z"),
            F.when(zval < -_SAX_BP, "a")
            .when(zval < 0, "b")
            .when(zval < _SAX_BP, "c")
            .otherwise("d")
            .alias("symbol"),
        )
        .orderBy("seg_no")
    )


# --- Hampel filter (rolling median ± k·MAD outlier detection) ----------

HAMPEL_K = 3.0
MAD_CONSISTENCY = 1.4826  # gaussian consistency constant


@query(
    "window_hampel_filter",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS c
            FROM orders GROUP BY 1
        ),
        rn AS (
            SELECT d, c, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily
        ),
        pairs AS (
            SELECT a.d, a.c AS c0, b.c AS c
            FROM rn a JOIN rn b ON b.rn BETWEEN a.rn - 3 AND a.rn + 3
        ),
        medt AS (
            SELECT d, MIN(c0) AS c0, MEDIAN(c) AS med
            FROM pairs GROUP BY d HAVING COUNT(*) = 7
        ),
        madt AS (
            SELECT p.d, m.c0, m.med,
                   MEDIAN(ABS(p.c - m.med)) AS mad
            FROM pairs p JOIN medt m USING (d)
            GROUP BY p.d, m.c0, m.med
        )
        SELECT CAST(d AS VARCHAR) AS d,
               ROUND(c0 / 100.0, 2) AS rev,
               ROUND(med / 100.0, 2) AS med7,
               ROUND(mad / 100.0, 2) AS mad7,
               ROUND((c0 - med) / ({MAD_CONSISTENCY!r} * mad), 4)
                   AS hampel_z
        FROM madt
        WHERE mad > 0
          AND ABS(c0 - med) > {HAMPEL_K!r} * {MAD_CONSISTENCY!r} * mad
        ORDER BY d
    """,
    tags=("timeseries", "window", "robust", "median", "anomaly"),
)
def window_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter on daily revenue: a day is anomalous when
    it sits more than 3 robust sigmas (1.4826·MAD) from its centered
    7-day rolling MEDIAN — the robust alternative to the EWMA /
    z-score detectors (events_ewma_deviation, stats_mad_outliers):
    neither the location nor the scale estimate can be dragged by the
    outlier being tested.

    Exactness: the series is integer day-cents, the window is a full
    7-row frame, and both the median and the MAD are exact middle
    ELEMENT picks of sorted 7-arrays (Spark: the sorted-frame-array
    idiom of window_rolling_median, applied twice — once to the frame,
    once to its absolute deviations) — every comparison against the
    k·1.4826·MAD fence is identical double algebra on exact integers
    in both engines. The oracle reconstructs the same frames by a
    bounded spine self-join (±3 rows) and DuckDB's discrete MEDIAN.

    The only window runs over the calendar-bounded day spine; at
    100 TB the per-day collapse is the single fact-sized aggregation
    (the spine is thousands of rows regardless of fact size).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    arr = F.array_sort(F.collect_list("c").over(w7))
    framed = daily.select(
        "d", "c", arr.alias("arr")
    ).where(F.size("arr") == 7)
    med = F.element_at(F.col("arr"), 4)
    devs = F.array_sort(
        F.transform(F.col("arr"), lambda x: F.abs(x - med))
    )
    mad = F.element_at(devs, 4)
    scored = framed.select(
        "d",
        "c",
        med.alias("med"),
        mad.alias("mad"),
    )
    fence = HAMPEL_K * MAD_CONSISTENCY * F.col("mad")
    return (
        scored.where(
            (F.col("mad") > 0) & (F.abs(F.col("c") - F.col("med")) > fence)
        )
        .select(
            F.col("d").cast("string").alias("d"),
            F.round(F.col("c") / 100.0, 2).alias("rev"),
            F.round(F.col("med") / 100.0, 2).alias("med7"),
            F.round(F.col("mad") / 100.0, 2).alias("mad7"),
            F.round(
                (F.col("c") - F.col("med")) / (MAD_CONSISTENCY * F.col("mad")),
                4,
            ).alias("hampel_z"),
        )
        .orderBy("d")
    )


# --- Granger-style lagged predictive test ---------------------------------

GRANGER_F_CRIT = 4.21  # F(1, ~27) at alpha = 0.05, fixed-gate contract


@query(
    "stats_granger_lite",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        lagged AS (
            SELECT CAST(y AS DOUBLE) AS y,
                   CAST(LAG(y) OVER w AS DOUBLE) AS yl,
                   CAST(LAG(x) OVER w AS DOUBLE) AS xl
            FROM daily WINDOW w AS (ORDER BY d)
            QUALIFY LAG(y) OVER w IS NOT NULL
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   corr(y, yl) AS r1, corr(y, xl) AS r2, corr(yl, xl) AS r12
            FROM lagged
        ),
        fit AS (
            SELECT n, r1, r2, r12,
                   r1 * r1 AS r2_restricted,
                   ((r1 - r12 * r2) * r1 + (r2 - r12 * r1) * r2)
                       / (1 - r12 * r12) AS r2_full
            FROM s
        )
        SELECT n AS n_days,
               ROUND(r2_restricted, 6) AS r2_restricted,
               ROUND(r2_full, 6) AS r2_full,
               ROUND((r2_full - r2_restricted) / ((1 - r2_full) / (n - 3)), 4)
                   AS f_stat,
               CAST((r2_full - r2_restricted) / ((1 - r2_full) / (n - 3))
                    > {GRANGER_F_CRIT!r} AS BOOLEAN) AS granger_causes
        FROM fit
    """,
    tags=("timeseries", "stats", "causal", "window", "events"),
)
def stats_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-lag Granger predictive test: does yesterday's CLICK volume
    improve today's purchase-revenue forecast beyond yesterday's
    revenue itself? Restricted model y_t ~ y_{{t-1}} vs full model
    y_t ~ y_{{t-1}} + x_{{t-1}}; the F statistic
    (R²_full − R²_restricted) / ((1 − R²_full)/(n−3)) decides against
    a fixed 4.21 gate (F(1, ~27) at 5% — the house fixed-critical
    contract; the event spine is one month at every SF so df is
    stable).

    Both fits close over the SAME correlation moments (the
    ml_drop_column_importance determinant identity — the restricted R²
    is literally corr²(y, y_lag)), so the whole two-model comparison
    is one day-spine aggregate + a lag window over ~30 rows. Series
    values are exact integers (cents, counts) before the correlation
    kernel.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        F.col("y").cast("double").alias("y"),
        F.lag("y").over(w).cast("double").alias("yl"),
        F.lag("x").over(w).cast("double").alias("xl"),
    ).where(F.col("yl").isNotNull())
    s = lagged.agg(
        F.count("*").cast("bigint").alias("n"),
        F.corr("y", "yl").alias("r1"),
        F.corr("y", "xl").alias("r2"),
        F.corr("yl", "xl").alias("r12"),
    )
    r1, r2, r12 = F.col("r1"), F.col("r2"), F.col("r12")
    r2_r = r1 * r1
    r2_f = ((r1 - r12 * r2) * r1 + (r2 - r12 * r1) * r2) / (1 - r12 * r12)
    f_stat = (r2_f - r2_r) / ((1 - r2_f) / (F.col("n") - 3))
    return s.select(
        F.col("n").alias("n_days"),
        F.round(r2_r, 6).alias("r2_restricted"),
        F.round(r2_f, 6).alias("r2_full"),
        F.round(f_stat, 4).alias("f_stat"),
        (f_stat > GRANGER_F_CRIT).alias("granger_causes"),
    )


# --- round-5 carriers: first-time 'session' and 'decomposition'
# window entries ------------------------------------------------------

SESSION_GAP_MIN = 30  # inactivity gap that closes a session (minutes)


@query(
    "events_session_gap_stats",
    oracle=f"""
        WITH g AS (
            SELECT user_id, ts, event_id, event_type, value,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                                 PARTITION BY user_id ORDER BY ts, event_id)
                             > {SESSION_GAP_MIN} * 60 * 1000000
                        OR LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_start
            FROM events
        ),
        s AS (
            SELECT *, SUM(is_start) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
            FROM g
        )
        SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000
                    AS BIGINT) AS duration_sec,
               ROUND(SUM(value), 4) AS sum_value
        FROM s GROUP BY user_id, session_no
    """,
    tags=("events", "session", "window-time", "timeseries"),
)
def events_session_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as pure window algebra (lag → session
    boundary flag → running sum = session number), then per-session
    stats — the BATCH form of the streaming ``session_window``
    aggregation (``events_session_window`` covers the built-in). This
    lag+cumsum shape is what you use when sessions must be re-derived
    over historical data at 100 TB: one user-keyed shuffle, two frames
    over the same sort, no self-join. Ordering carries the
    (ts, event_id) unique tiebreak."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")  # microsecond-exact integer time math
    prev_us = F.lag(us).over(wo)
    is_start = (
        prev_us.isNull() | (us - prev_us > SESSION_GAP_MIN * 60 * 1_000_000)
    ).cast("int")
    s = e.select(
        "user_id", "ts", "event_id", "value", us.alias("us"),
        is_start.alias("is_start"),
    ).select(
        "*",
        F.sum("is_start").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "session_no"
        ),
    )
    return s.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr("(max(us) - min(us)) DIV 1000000").cast("bigint").alias(
            "duration_sec"
        ),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


DETREND_WIN = 3  # centered moving-average half-width (7-day window)


@query(
    "analytics_detrend_moving_avg",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   SUM(o_totalprice) AS rev
            FROM orders GROUP BY 1
        ),
        t AS (
            SELECT d, rev,
                   AVG(rev) OVER (ORDER BY d
                       ROWS BETWEEN {DETREND_WIN} PRECEDING
                                AND {DETREND_WIN} FOLLOWING) AS trend,
                   COUNT(*) OVER (ORDER BY d
                       ROWS BETWEEN {DETREND_WIN} PRECEDING
                                AND {DETREND_WIN} FOLLOWING) AS n_win
            FROM daily
        )
        SELECT CAST(d AS VARCHAR) AS day,
               ROUND(rev, 2)          AS rev,
               ROUND(trend, 2)        AS trend,
               ROUND(rev - trend, 2)  AS residual,
               CAST(n_win AS BIGINT)  AS n_win
        FROM t
    """,
    tags=("timeseries", "decomposition", "orders"),
)
def analytics_detrend_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend extraction by centered moving average + additive residual
    — the first stage of every classical decomposition (STL's inner
    loop smoother; the full seasonal split is
    ``analytics_stl_decomposition``). Runs on the day-aggregated frame
    (|days| rows — the unpartitioned window sits on a reduced
    aggregate, the documented tiny-frame exception), after one
    day-keyed aggregation of the fact table. Edge days keep their
    truncated frame (n_win reports it), matching the oracle's ROWS
    frame exactly."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = Window.orderBy("d").rowsBetween(-DETREND_WIN, DETREND_WIN)
    return daily.select(
        F.col("d").cast("string").alias("day"),
        F.round("rev", 2).alias("rev"),
        F.round(F.avg("rev").over(w), 2).alias("trend"),
        F.round(F.col("rev") - F.avg("rev").over(w), 2).alias("residual"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
    )


# --- round-5: stationary distribution of the event-type chain --------

MARKOV_POWER_ITERS = 24


def _markov_stationary_oracle() -> str:
    parts = [
        """pairs AS (
            SELECT event_type AS cur_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        )""",
        """p AS MATERIALIZED (
            SELECT cur_type, next_type,
                   CAST(COUNT(*) AS DOUBLE)
                   / SUM(COUNT(*)) OVER (PARTITION BY cur_type) AS pij
            FROM pairs WHERE next_type IS NOT NULL
            GROUP BY cur_type, next_type
        )""",
        """states AS MATERIALIZED (SELECT DISTINCT cur_type AS state FROM p)""",
        """pi0 AS MATERIALIZED (
            SELECT state,
                   1.0 / (SELECT COUNT(*) FROM states) AS prob
            FROM states)""",
    ]
    for r in range(1, MARKOV_POWER_ITERS + 1):
        parts.append(f"""pi{r} AS MATERIALIZED (
            SELECT p.next_type AS state, SUM(pi.prob * p.pij) AS prob
            FROM pi{r - 1} pi JOIN p ON p.cur_type = pi.state
            GROUP BY p.next_type)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT state, ROUND(prob, 8) AS stationary_prob
        FROM pi{MARKOV_POWER_ITERS}"""
    )


@query(
    "events_markov_stationary",
    oracle=_markov_stationary_oracle(),
    tags=("events", "timeseries", "markov", "iterative"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — the
    long-run behavioral mix the `events_markov_transitions` matrix
    converges to — by 24 synchronous power-iteration rounds from the
    uniform start (π_{t+1} = π_t P). The per-round state is k≤5
    doubles, so iterations after the one transition-count shuffle are
    dimension-sized: the heavy lifting is exactly one LEAD window +
    one (cur,next) aggregate, same as the matrix query; convergence is
    geometric (chain is irreducible here: every type both emits and
    receives transitions at every SF), so ROUND(_, 8) sits far inside
    the contraction after 24 rounds. Spark loop localCheckpoints the
    k-row π each round (lineage idiom); oracle unrolls MATERIALIZED
    CTEs."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    norm = Window.partitionBy("cur_type")
    p = (
        pairs.groupBy("cur_type", "next_type")
        .agg(F.count("*").alias("n"))
        .select(
            "cur_type",
            "next_type",
            (F.col("n").cast("double") / F.sum("n").over(norm)).alias("pij"),
        )
        .localCheckpoint(eager=True)
    )
    states = p.select(F.col("cur_type").alias("state")).distinct()
    k = states.count()
    pi = states.select("state", F.lit(1.0 / k).alias("prob"))
    for _ in range(MARKOV_POWER_ITERS):
        pi = (
            pi.join(p, pi["state"] == p["cur_type"])
            .groupBy(F.col("next_type").alias("state"))
            .agg(F.sum(F.col("prob") * F.col("pij")).alias("prob"))
            .localCheckpoint(eager=True)
        )
    return pi.select("state", F.round("prob", 8).alias("stationary_prob"))


# --- round-6 carrier: first-time 'decomposition' entry ----------------

SEASONAL_WIN = 3  # centered MA half-width (7-day trend window)


@query(
    "analytics_seasonal_strength",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   isodow(CAST(o_orderdate AS DATE)) AS dow,
                   SUM(o_totalprice) AS rev
            FROM orders GROUP BY 1, 2
        ),
        t AS (
            SELECT d, dow, rev,
                   rev - AVG(rev) OVER (ORDER BY d
                       ROWS BETWEEN {SEASONAL_WIN} PRECEDING
                                AND {SEASONAL_WIN} FOLLOWING) AS detr
            FROM daily
        ),
        s AS (
            SELECT t.*, AVG(detr) OVER (PARTITION BY dow) AS seas
            FROM t
        ),
        strength AS (
            SELECT GREATEST(0.0, 1.0 - VAR_POP(detr - seas) / VAR_POP(detr))
                       AS fs
            FROM s
        )
        SELECT CAST(dow AS BIGINT)            AS dow,
               CAST(COUNT(*) AS BIGINT)       AS n_days,
               ROUND(AVG(detr), 4)            AS seasonal_idx,
               ROUND(MAX(strength.fs), 6)     AS seasonal_strength
        FROM s, strength
        GROUP BY dow
    """,
    tags=("timeseries", "decomposition", "window", "orders"),
)
def analytics_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical-decomposition SEASONAL STRENGTH (Hyndman's
    F_s = max(0, 1 − Var(remainder)/Var(detrended))): centered-MA
    detrend, day-of-week seasonal means, then the variance ratio that
    says how much of the detrended signal the weekly cycle explains —
    reported per ISO weekday with its seasonal index. Completes the
    decomposition family (trend split: ``analytics_detrend_moving_avg``,
    certified r05; full split: ``analytics_stl_decomposition``).
    All windows sit on the day-aggregated spine (|days| rows — the
    documented tiny-frame exception); the fact table is touched once."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.weekday(F.col("o_orderdate").cast("date")) + 1).alias("dow"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    wt = Window.orderBy("d").rowsBetween(-SEASONAL_WIN, SEASONAL_WIN)
    t = daily.select(
        "d", "dow", (F.col("rev") - F.avg("rev").over(wt)).alias("detr")
    )
    s = t.withColumn("seas", F.avg("detr").over(Window.partitionBy("dow")))
    strength = s.select(
        F.greatest(
            F.lit(0.0),
            1.0
            - F.var_pop(F.col("detr") - F.col("seas"))
            / F.var_pop("detr"),
        ).alias("fs")
    )
    return (
        s.join(F.broadcast(strength))
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.avg("detr"), 4).alias("seasonal_idx"),
            F.round(F.max("fs"), 6).alias("seasonal_strength"),
        )
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            "n_days",
            "seasonal_idx",
            "seasonal_strength",
        )
    )


# --- round-7 spare carriers: session funnel + remainder ACF ------------

FUNNEL_GAP_MIN = 30  # session gap, matches events_session_gap_stats


@query(
    "events_session_funnel",
    oracle=f"""
        WITH g AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                                 PARTITION BY user_id ORDER BY ts, event_id)
                             > {FUNNEL_GAP_MIN} * 60 * 1000000
                        OR LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_start
            FROM events
        ),
        s AS (
            SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
            FROM g
        ),
        stages AS (
            SELECT user_id, session_no,
                   MIN(CASE WHEN event_type = 'view'
                            THEN epoch_us(ts) END)     AS t_view,
                   MIN(CASE WHEN event_type = 'click'
                            THEN epoch_us(ts) END)     AS t_click,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN epoch_us(ts) END)     AS t_purchase
            FROM s GROUP BY user_id, session_no
        ),
        depth AS (
            SELECT user_id, session_no,
                   CASE WHEN t_view IS NOT NULL
                         AND t_click IS NOT NULL AND t_click >= t_view
                         AND t_purchase IS NOT NULL AND t_purchase >= t_click
                        THEN 3
                        WHEN t_view IS NOT NULL
                         AND t_click IS NOT NULL AND t_click >= t_view
                        THEN 2
                        WHEN t_view IS NOT NULL THEN 1
                        ELSE 0 END AS funnel_depth
            FROM stages
        )
        SELECT CAST(funnel_depth AS BIGINT) AS funnel_depth,
               CAST(COUNT(*) AS BIGINT)     AS n_sessions
        FROM depth GROUP BY funnel_depth
    """,
    tags=("events", "session", "window", "report"),
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped ORDERED FUNNEL: sessionize (30-min gaps), then
    classify each session by its deepest IN-ORDER stage — view, then a
    click at-or-after the first view, then a purchase at-or-after that
    click — rolled into a depth histogram (the conversion report;
    per-session stats sibling: ``events_session_gap_stats``). The
    stage logic uses only each session's three MIN timestamps, so the
    whole funnel is the sessionization shuffle + one group-by: no
    self-join over the event sequence, O(4) output rows at any SF."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    is_start = F.when(
        gap.isNull() | (gap > FUNNEL_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    s = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("session_no"),
    )

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.unix_micros("ts")))

    stages = s.groupBy("user_id", "session_no").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    v, c, p = F.col("t_view"), F.col("t_click"), F.col("t_purchase")
    depth = (
        F.when(
            v.isNotNull() & c.isNotNull() & (c >= v)
            & p.isNotNull() & (p >= c),
            3,
        )
        .when(v.isNotNull() & c.isNotNull() & (c >= v), 2)
        .when(v.isNotNull(), 1)
        .otherwise(0)
    )
    return (
        stages.select(depth.cast("bigint").alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    )


ACF_LAGS = (1, 7)  # remainder autocorrelation probes (days)


@query(
    "analytics_remainder_acf",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   isodow(CAST(o_orderdate AS DATE)) AS dow,
                   SUM(o_totalprice) AS rev
            FROM orders GROUP BY 1, 2
        ),
        t AS (
            SELECT d, dow, rev,
                   rev - AVG(rev) OVER (ORDER BY d
                       ROWS BETWEEN {SEASONAL_WIN} PRECEDING
                                AND {SEASONAL_WIN} FOLLOWING) AS detr
            FROM daily
        ),
        r AS (
            SELECT d,
                   detr - AVG(detr) OVER (PARTITION BY dow) AS rem
            FROM t
        ),
        lagged AS (
            SELECT r.d, r.rem,
                   LAG(rem, 1) OVER (ORDER BY d) AS rem_l1,
                   LAG(rem, 7) OVER (ORDER BY d) AS rem_l7
            FROM r
        ),
        m AS (SELECT AVG(rem) AS mu, VAR_POP(rem) AS v0,
                     CAST(COUNT(*) AS DOUBLE) AS n FROM r)
        SELECT 1 AS lag_days,
               ROUND(SUM((rem - m.mu) * (rem_l1 - m.mu))
                     / (m.n * m.v0), 6) AS acf,
               CAST(COUNT(rem_l1) AS BIGINT) AS n_pairs
        FROM lagged, m GROUP BY m.n, m.v0, m.mu
        UNION ALL
        SELECT 7,
               ROUND(SUM((rem - m.mu) * (rem_l7 - m.mu))
                     / (m.n * m.v0), 6),
               CAST(COUNT(rem_l7) AS BIGINT)
        FROM lagged, m GROUP BY m.n, m.v0, m.mu
    """,
    tags=("timeseries", "decomposition", "window", "orders"),
)
def analytics_remainder_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMAINDER whiteness check: autocorrelation of the
    trend-and-seasonality-removed residual at lags 1 and 7 — if the
    weekly decomposition captured the structure, both should sit near
    zero (lag-7 leakage means the seasonal means under-fit). Same
    day-spine pipeline as ``analytics_seasonal_strength``; the ACF is
    the standard biased estimator (÷ N·σ², the statsmodels default),
    computed by one LAG pass over the |days| frame. Raw-series ACF
    sibling: ``analytics_acf_daily``."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.weekday(F.col("o_orderdate").cast("date")) + 1).alias("dow"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    wt = Window.orderBy("d").rowsBetween(-SEASONAL_WIN, SEASONAL_WIN)
    t = daily.select(
        "d", "dow", (F.col("rev") - F.avg("rev").over(wt)).alias("detr")
    )
    r = t.select(
        "d",
        (F.col("detr") - F.avg("detr").over(Window.partitionBy("dow"))).alias(
            "rem"
        ),
    )
    wlag = Window.orderBy("d")
    lagged = r.select(
        "rem",
        F.lag("rem", 1).over(wlag).alias("rem_l1"),
        F.lag("rem", 7).over(wlag).alias("rem_l7"),
    )
    m = r.agg(
        F.avg("rem").alias("mu"),
        F.var_pop("rem").alias("v0"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    j = lagged.join(F.broadcast(m))

    def leg(lag, col):
        return j.agg(
            F.lit(lag).alias("lag_days"),
            F.round(
                F.sum((F.col("rem") - F.col("mu")) * (F.col(col) - F.col("mu")))
                / (F.max("n") * F.max("v0")),
                6,
            ).alias("acf"),
            F.count(col).cast("bigint").alias("n_pairs"),
        )

    return leg(1, "rem_l1").unionByName(leg(7, "rem_l7"))


# --- round-8 spares: session-scoped transitions + multiplicative decomp --


@query(
    "events_session_transition_matrix",
    oracle=f"""
        WITH g AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                                 PARTITION BY user_id ORDER BY ts, event_id)
                             > {FUNNEL_GAP_MIN} * 60 * 1000000
                        OR LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_start
            FROM events
        ),
        s AS (
            SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
            FROM g
        ),
        trans AS (
            SELECT event_type AS cur_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id, session_no
                       ORDER BY ts, event_id) AS next_type
            FROM s
        )
        SELECT cur_type, next_type,
               CAST(COUNT(*) AS BIGINT) AS n_trans,
               ROUND(COUNT(*) * 1.0
                     / SUM(COUNT(*)) OVER (PARTITION BY cur_type), 6)
                   AS p_next
        FROM trans WHERE next_type IS NOT NULL
        GROUP BY cur_type, next_type
    """,
    tags=("events", "session", "markov", "window"),
)
def events_session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-SCOPED transition matrix: event-type bigrams that RESET
    at every 30-min session boundary — the within-visit behavior chain,
    which differs from the global per-user chain
    (``events_markov_transitions``) exactly by the cross-session
    transitions it drops. One sessionization pass, one LEAD partitioned
    by (user, session), one count rollup — |types|² output rows at any
    SF."""
    e = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(wu)
    is_start = F.when(
        gap.isNull() | (gap > FUNNEL_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    s = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(is_start)
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("session_no"),
    )
    ws = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    trans = s.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(ws).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = trans.groupBy("cur_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans")
    )
    wrow = Window.partitionBy("cur_type")
    return counts.select(
        "cur_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans") * 1.0 / F.sum("n_trans").over(wrow), 6
        ).alias("p_next"),
    )


@query(
    "analytics_multiplicative_decomp",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   isodow(CAST(o_orderdate AS DATE)) AS dow,
                   SUM(o_totalprice) AS rev
            FROM orders GROUP BY 1, 2
        ),
        t AS (
            SELECT d, dow, rev,
                   AVG(rev) OVER (ORDER BY d
                       ROWS BETWEEN {SEASONAL_WIN} PRECEDING
                                AND {SEASONAL_WIN} FOLLOWING) AS trend
            FROM daily
        ),
        r AS (SELECT d, dow, rev / trend AS ratio FROM t WHERE trend > 0)
        SELECT CAST(dow AS BIGINT)          AS dow,
               CAST(COUNT(*) AS BIGINT)     AS n_days,
               ROUND(AVG(ratio), 6)         AS seasonal_ratio,
               ROUND(STDDEV_POP(ratio), 6)  AS ratio_sd
        FROM r GROUP BY dow
    """,
    tags=("timeseries", "decomposition", "window", "orders"),
)
def analytics_multiplicative_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLICATIVE seasonal decomposition (ratio-to-moving-average —
    the classical X-11 first step): per-weekday mean of rev/trend,
    the right model when seasonal swing scales WITH the level
    (additive counterpart: ``analytics_seasonal_strength``). A ratio
    index of 1.10 reads 'Mondays run 10% above trend'. Same day-spine
    windows; one extra division."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.weekday(F.col("o_orderdate").cast("date")) + 1).alias("dow"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    wt = Window.orderBy("d").rowsBetween(-SEASONAL_WIN, SEASONAL_WIN)
    r = daily.select(
        "dow", (F.col("rev") / F.avg("rev").over(wt)).alias("ratio")
    )
    return r.groupBy(F.col("dow").cast("bigint").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.avg("ratio"), 6).alias("seasonal_ratio"),
        F.round(F.stddev_pop("ratio"), 6).alias("ratio_sd"),
    )


# ---------------------------------------------------------------------------
# decomposition: day-of-week additive profile with exact remainders
# ---------------------------------------------------------------------------


@query(
    "analytics_dow_additive_profile",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1, 2
        ),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                     CAST(SUM(cents) AS BIGINT) AS total FROM daily),
        agg AS (
            SELECT dow, CAST(COUNT(*) AS BIGINT) AS nd,
                   CAST(SUM(cents) AS BIGINT) AS dow_cents
            FROM daily GROUP BY dow
        ),
        dev AS (
            SELECT d.dow,
                   CAST(SUM(ABS(d.cents * a.nd - a.dow_cents)) AS BIGINT)
                       AS sum_abs_dev_nd
            FROM daily d JOIN agg a ON d.dow = a.dow
            GROUP BY d.dow
        )
        SELECT CAST(a.dow AS BIGINT) AS dow,
               a.nd AS n_days,
               ROUND(CAST(a.dow_cents AS DOUBLE) / a.nd / 100.0, 4)
                   AS dow_mean,
               ROUND(CAST(a.dow_cents AS DOUBLE) / a.nd / 100.0
                     - CAST(g.total AS DOUBLE) / g.n_days / 100.0, 4)
                   AS dow_effect,
               ROUND(CAST(dev.sum_abs_dev_nd AS DOUBLE)
                     / a.nd / a.nd / 100.0, 4)
                   AS remainder_mad
        FROM agg a JOIN dev ON a.dow = dev.dow, g
    """,
    tags=("analytics", "decomposition", "timeseries", "orders"),
)
def analytics_dow_additive_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE day-of-week decomposition profile: per weekday, the
    mean daily revenue, its EFFECT (deviation from the grand daily
    mean — the seasonal component of level + season + remainder), and
    the remainder's mean absolute deviation — with the MAD numerator
    kept in EXACT integers by scaling before subtracting
    (|cents·n_d − Σcents| is integer math; dividing by n_d² once at
    the end is the only float op), the same trick the house uses
    everywhere a difference-of-floats would wobble (sibling
    decompositions: ``analytics_seasonal_strength`` r06,
    ``analytics_multiplicative_decomp`` stock, remainder ACF in the
    r07 window). Two aggregates over the daily frame (which is
    O(days) — tiny at any SF) after one group-by over orders."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d"),
        F.dayofweek(F.to_date("o_orderdate")).alias("dow"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("total"),
    )
    agg = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("cents").cast("bigint").alias("dow_cents"),
    )
    dev = (
        daily.join(agg, "dow")
        .groupBy("dow")
        .agg(
            F.sum(
                F.abs(F.col("cents") * F.col("nd") - F.col("dow_cents"))
            )
            .cast("bigint")
            .alias("sum_abs_dev_nd")
        )
    )
    return (
        agg.join(dev, "dow")
        .crossJoin(F.broadcast(g))
        .select(
            F.col("dow").cast("bigint").alias("dow"),
            F.col("nd").alias("n_days"),
            F.round(
                F.col("dow_cents").cast("double") / F.col("nd") / 100.0, 4
            ).alias("dow_mean"),
            F.round(
                F.col("dow_cents").cast("double") / F.col("nd") / 100.0
                - F.col("total").cast("double") / F.col("n_days") / 100.0,
                4,
            ).alias("dow_effect"),
            F.round(
                F.col("sum_abs_dev_nd").cast("double")
                / F.col("nd")
                / F.col("nd")
                / 100.0,
                4,
            ).alias("remainder_mad"),
        )
    )


# ---------------------------------------------------------------------------
# decomposition: weekday/weekend two-level additive split
# ---------------------------------------------------------------------------


@query(
    "analytics_weekpart_decomp",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
                        THEN 'weekend' ELSE 'weekday' END AS part,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1, 2
        ),
        g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                     CAST(SUM(cents) AS BIGINT) AS total FROM daily),
        p AS (
            SELECT part, CAST(COUNT(*) AS BIGINT) AS nd,
                   CAST(SUM(cents) AS BIGINT) AS part_cents
            FROM daily GROUP BY part
        ),
        dev AS (
            SELECT d.part,
                   CAST(SUM(ABS(d.cents * p.nd - p.part_cents)) AS BIGINT)
                       AS sum_abs_dev_nd
            FROM daily d JOIN p ON d.part = p.part
            GROUP BY d.part
        )
        SELECT p.part,
               p.nd AS n_days,
               ROUND(CAST(p.part_cents AS DOUBLE) / p.nd / 100.0, 4)
                   AS part_mean,
               ROUND(CAST(p.part_cents AS DOUBLE) / p.nd / 100.0
                     - CAST(g.total AS DOUBLE) / g.n_days / 100.0, 4)
                   AS part_effect,
               ROUND(CAST(dev.sum_abs_dev_nd AS DOUBLE)
                     / p.nd / p.nd / 100.0, 4)
                   AS remainder_mad
        FROM p JOIN dev ON p.part = dev.part, g
    """,
    tags=("analytics", "decomposition", "timeseries", "orders"),
)
def analytics_weekpart_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKDAY/WEEKEND additive split — the coarsest seasonal
    decomposition (level + binary calendar effect + remainder), with
    the same exact-integer MAD discipline as the 7-level dow profile
    (``analytics_dow_additive_profile``): |cents·n − Σcents| stays
    integer, one division per output cell. Two tiny aggregates over
    the O(days) daily frame; the binary partition is where weekly
    seasonality analysis starts before spending 7 dof on full dow
    effects. (Spark dayofweek is 1=Sunday..7=Saturday; the oracle
    matches with DuckDB's 0/6.)"""
    o = load_table(spark, sf_dir, "orders")
    dow = F.dayofweek(F.to_date("o_orderdate"))
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("d"),
        F.when(dow.isin(1, 7), "weekend").otherwise("weekday").alias("part"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("total"),
    )
    p = daily.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("cents").cast("bigint").alias("part_cents"),
    )
    dev = (
        daily.join(p, "part")
        .groupBy("part")
        .agg(
            F.sum(F.abs(F.col("cents") * F.col("nd") - F.col("part_cents")))
            .cast("bigint")
            .alias("sum_abs_dev_nd")
        )
    )
    return (
        p.join(dev, "part")
        .crossJoin(F.broadcast(g))
        .select(
            "part",
            F.col("nd").alias("n_days"),
            F.round(
                F.col("part_cents").cast("double") / F.col("nd") / 100.0, 4
            ).alias("part_mean"),
            F.round(
                F.col("part_cents").cast("double") / F.col("nd") / 100.0
                - F.col("total").cast("double") / F.col("n_days") / 100.0,
                4,
            ).alias("part_effect"),
            F.round(
                F.col("sum_abs_dev_nd").cast("double")
                / F.col("nd")
                / F.col("nd")
                / 100.0,
                4,
            ).alias("remainder_mad"),
        )
    )


# ---------------------------------------------------------------------------
# decomposition: per-user linear detrend with variance-explained share
# ---------------------------------------------------------------------------


@query(
    "analytics_detrend_linear_resid",
    oracle="""
        WITH x AS (
            SELECT user_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS BIGINT)
                       AS t,
                   CAST(ROUND(value * 100) AS BIGINT) AS y
            FROM events
        ),
        s AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT)                      AS n,
                   CAST(SUM(t) AS DOUBLE)                        AS st,
                   CAST(SUM(y) AS DOUBLE)                        AS sy,
                   CAST(SUM(CAST(t AS HUGEINT) * t) AS DOUBLE)   AS stt,
                   CAST(SUM(CAST(t AS HUGEINT) * y) AS DOUBLE)   AS sty,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE)   AS syy
            FROM x GROUP BY user_id
        )
        SELECT user_id, n,
               -- + 0 normalizes DuckDB ROUND's -0.0 (slopes are
               -- centered on 0 by construction; r08 review)
               ROUND((n * sty - st * sy) / (n * stt - st * st) / 100.0, 6)
                   + 0 AS trend_slope,
               ROUND(((n * sty - st * sy) * (n * sty - st * sy))
                     / ((n * stt - st * st) * (n * syy - sy * sy)), 6) + 0
                   AS var_explained
        FROM s WHERE n >= 3 AND n * syy - sy * sy > 0
    """,
    tags=("decomposition", "regression", "events"),
)
def analytics_detrend_linear_resid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR DETREND per user with the variance share the trend
    explains — R² = (nSty − StSy)² / ((nStt − St²)(nSyy − Sy²)) — the
    decomposition step that answers "is this channel drifting or
    seasonal?" before any seasonal profile is fit (seasonal siblings:
    ``analytics_dow_additive_profile``, ``analytics_weekpart_decomp``).
    Time is the within-user rank (exact integer, tiebroken by
    event_id); every sufficient statistic is an EXACT integer sum
    (t·y and y² through HUGEINT/DECIMAL(38) headroom); slope and R²
    are fixed-order float expressions over the 1-row-per-user exact
    frame. One window + one aggregate, both keyed by user; degenerate
    users (n<3 or zero variance) are excluded exactly."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    td = F.col("t").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = x.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("double").alias("st"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(td * F.col("t")).cast("double").alias("stt"),
        F.sum(td * F.col("y")).cast("double").alias("sty"),
        F.sum(yd * F.col("y")).cast("double").alias("syy"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    stt, sty, syy = F.col("stt"), F.col("sty"), F.col("syy")
    num = n * sty - st * sy
    return s.filter((n >= 3) & (n * syy - sy * sy > 0)).select(
        "user_id",
        "n",
        F.round(num / (n * stt - st * st) / 100.0, 6).alias("trend_slope"),
        F.round(
            (num * num) / ((n * stt - st * st) * (n * syy - sy * sy)), 6
        ).alias("var_explained"),
    )


# ---------------------------------------------------------------------------
# decomposition: hour-of-day additive effect profile
# ---------------------------------------------------------------------------


@query(
    "analytics_hod_effect_profile",
    oracle="""
        WITH x AS (
            SELECT hour(ts) AS hr,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events
        ),
        per_h AS (
            SELECT hr, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(c) AS BIGINT)       AS s,
                   CAST(SUM(c * c) AS BIGINT)   AS s2
            FROM x GROUP BY hr
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
                   CAST(SUM(s2) AS BIGINT) AS s2t,
                   list_sum(list(CAST(s AS DOUBLE) * s / n ORDER BY hr))
                       AS ss_group
            FROM per_h
        )
        SELECT hr, n,
               ROUND(CAST(s AS DOUBLE) / n / 100, 6)        AS hour_mean,
               ROUND(CAST(s AS DOUBLE) / n / 100
                     - CAST(st AS DOUBLE) / nt / 100, 6) + 0 AS effect,
               ROUND((ss_group - CAST(st AS DOUBLE) * st / nt)
                     / (CAST(s2t AS DOUBLE)
                        - CAST(st AS DOUBLE) * st / nt), 6) + 0 AS eta_sq
        FROM per_h, tot
    """,
    tags=("analytics", "decomposition", "events"),
)
def analytics_hod_effect_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOUR-OF-DAY ADDITIVE DECOMPOSITION: value = grand mean +
    hour effect, with the variance share the hour factor explains
    (η² = SS_between / SS_total) stamped on every row — the seasonal
    profile a monitoring pipeline derives before anomaly thresholds
    (day-of-week sibling: ``analytics_dow_additive_profile``). All
    moments are exact integer cents (Σc² ≈ 1e14 at sf0.1 — inside
    int64 with 10⁴× headroom); the η² numerator Σ s_h²/n_h is 24
    per-hour float terms reduced via the SEQUENTIAL hr-ordered fold
    (the house deterministic-summation idiom), and every output is
    one fixed-order float expression — `effect` is signed, so it
    carries the ``+ 0`` oracle guard (the r06 -0.0-under-ROUND
    class). One shuffle to 24 groups, one 1-row broadcast."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        F.hour("ts").alias("hr"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    per_h = x.groupBy("hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("hr", "term"))),
        lambda t: t["term"],
    )
    tot = (
        per_h.select(
            "n",
            "s",
            "s2",
            "hr",
            (F.col("s").cast("double") * F.col("s") / F.col("n")).alias(
                "term"
            ),
        )
        .agg(
            F.sum("n").cast("bigint").alias("nt"),
            F.sum("s").cast("bigint").alias("st"),
            F.sum("s2").cast("bigint").alias("s2t"),
            F.aggregate(ordered, F.lit(0.0), lambda a, v: a + v).alias(
                "ss_group"
            ),
        )
    )
    mean_h = F.col("s").cast("double") / F.col("n") / 100
    mean_t = F.col("st").cast("double") / F.col("nt") / 100
    ss_tot = F.col("s2t").cast("double") - F.col("st").cast("double") * F.col(
        "st"
    ) / F.col("nt")
    ss_btw = F.col("ss_group") - F.col("st").cast("double") * F.col(
        "st"
    ) / F.col("nt")
    return per_h.crossJoin(F.broadcast(tot)).select(
        "hr",
        "n",
        F.round(mean_h, 6).alias("hour_mean"),
        F.round(mean_h - mean_t, 6).alias("effect"),
        F.round(ss_btw / ss_tot, 6).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# decomposition + rolling: rolling-detrended day-of-week residual profile
# ---------------------------------------------------------------------------


@query(
    "analytics_rolling_seasonal_resid",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   dayofweek(ts) AS dow,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY day, dow
        ),
        roll AS (
            SELECT day, dow, cents,
                   CAST(SUM(cents) OVER w AS BIGINT)  AS rsum,
                   CAST(COUNT(*) OVER w AS BIGINT)    AS rcnt
            FROM daily
            WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                                              AND 3 FOLLOWING)
        ),
        resid AS (
            SELECT day, dow,
                   cents - CAST(rsum AS DOUBLE) / rcnt AS r
            FROM roll
        )
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               ROUND(list_sum(list(r ORDER BY day)) / COUNT(*), 6) + 0
                   AS mean_resid
        FROM resid GROUP BY dow
    """,
    tags=("analytics", "decomposition", "window", "rolling", "events"),
)
def analytics_rolling_seasonal_resid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-DETRENDED day-of-week profile — classical decomposition
    with a MOVING-AVERAGE trend instead of the global/linear trends
    the existing family pins (``analytics_dow_additive_profile``:
    grand-mean; ``analytics_detrend_linear_resid``: OLS line): daily
    exact-cent totals minus their centered 7-day rolling mean leave a
    residual whose per-DOW means ARE the weekly seasonal component,
    edge days shrinking the window to what exists (count window, not
    a 7 literal — the off-by-one every hand-rolled centered window
    hits). Rolling sum and count stay EXACT integers; each residual
    is one float subtraction; the per-DOW mean folds day-ordered.
    DOW in the DuckDB 0=Sunday convention (Spark dayofweek − 1 — the
    r05 cross-engine class), ``+ 0``-guarded. 100 TB: one day-keyed
    aggregate (map-side combinable), one ordered window over |days|
    rows, one 7-row rollup."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(
        F.to_date("ts").alias("day"),
        (F.dayofweek("ts") - 1).alias("dow"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    roll = daily.select(
        "day",
        "dow",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("rsum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("rcnt"),
    )
    resid = roll.select(
        "day",
        "dow",
        (F.col("cents") - F.col("rsum").cast("double") / F.col("rcnt")).alias(
            "r"
        ),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("day", "r"))), lambda s: s["r"]
    )
    return resid.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.aggregate(ordered, F.lit(0.0), lambda a, x: a + x)
            / F.count(F.lit(1)),
            6,
        ).alias("mean_resid"),
    ).select(F.col("dow").cast("bigint").alias("dow"), "n_days", "mean_resid")


# ---------------------------------------------------------------------------
# decomposition: level + day-of-week + residual over daily totals
# ---------------------------------------------------------------------------


@query(
    "analytics_level_dow_rolling_decomp",
    oracle="""
        WITH daily AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS day_num,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS c
            FROM events GROUP BY 1
        ),
        w7 AS (
            SELECT day_num, c,
                   CAST(SUM(c) OVER (ORDER BY day_num
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                       AS roll,
                   CAST(COUNT(*) OVER (ORDER BY day_num
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                       AS cnt7
            FROM daily
        ),
        full7 AS (
            SELECT day_num, c, roll, (day_num + 4) % 7 AS dow,
                   7 * c - roll AS dev7
            FROM w7 WHERE cnt7 = 7
        ),
        dowfx AS (
            SELECT dow, CAST(SUM(dev7) AS BIGINT) AS sum_dev,
                   CAST(COUNT(*) AS BIGINT) AS n_dow
            FROM full7 GROUP BY dow
        )
        SELECT f.day_num, f.dow,
               ROUND(f.c / 100.0, 2) AS day_total,
               ROUND(f.roll / 700.0, 6) + 0 AS level,
               ROUND(CAST(d.sum_dev AS DOUBLE) / d.n_dow / 700.0, 6) + 0
                   AS dow_effect,
               ROUND(f.dev7 / 700.0
                     - CAST(d.sum_dev AS DOUBLE) / d.n_dow / 700.0, 6) + 0
                   AS resid
        FROM full7 f JOIN dowfx d ON f.dow = d.dow
    """,
    tags=("analytics", "decomposition", "rolling", "window", "events"),
)
def analytics_level_dow_rolling_decomp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADDITIVE LEVEL + DAY-OF-WEEK + RESIDUAL decomposition of the
    daily revenue series: level = centered 7-day rolling mean (only
    full windows emit), weekday effect = mean deviation per dow,
    residual = what neither explains — the classic seasonal-naive
    decomposition (STL's integer-exact little sibling; house kin:
    ``analytics_dow_additive_profile``, ``analytics_rolling_seasonal_
    resid``). The trick that keeps it bit-exact: deviations are
    SCALED BY 7 so ``dev7 = 7·c − roll`` stays an exact integer
    (never a float rolling mean subtracted row-wise), and dow is
    computed ARITHMETICALLY as (epoch_day+4)%7 — never an engine
    dayofweek (Spark and DuckDB disagree by +1, the r0x quirk
    class). Every float is one fixed-order expression off exact
    integers, ``+ 0``-guarded (deviations round to −0.0 freely).
    100 TB: daily totals map-side combine; the window runs over
    |days| rows — driver-scale, not data-scale."""
    e = load_table(spark, sf_dir, "events")
    day_num = F.expr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.select(day_num.alias("day_num"), cents.alias("cents")).groupBy(
        "day_num"
    ).agg(F.sum("cents").cast("bigint").alias("c"))
    w7 = Window.orderBy("day_num").rowsBetween(-3, 3)
    wd = daily.select(
        "day_num",
        "c",
        F.sum("c").over(w7).cast("bigint").alias("roll"),
        F.count(F.lit(1)).over(w7).cast("bigint").alias("cnt7"),
    )
    full7 = wd.filter(F.col("cnt7") == 7).select(
        "day_num",
        "c",
        "roll",
        ((F.col("day_num") + 4) % 7).alias("dow"),
        (7 * F.col("c") - F.col("roll")).alias("dev7"),
    )
    dowfx = full7.groupBy("dow").agg(
        F.sum("dev7").cast("bigint").alias("sum_dev"),
        F.count(F.lit(1)).cast("bigint").alias("n_dow"),
    )
    j = full7.join(F.broadcast(dowfx), "dow")
    dow_eff = F.col("sum_dev").cast("double") / F.col("n_dow") / 700.0
    return j.select(
        "day_num",
        "dow",
        F.round(F.col("c") / 100.0, 2).alias("day_total"),
        F.round(F.col("roll") / 700.0, 6).alias("level"),
        F.round(dow_eff, 6).alias("dow_effect"),
        F.round(F.col("dev7") / 700.0 - dow_eff, 6).alias("resid"),
    )
