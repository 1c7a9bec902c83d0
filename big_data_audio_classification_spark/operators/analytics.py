"""Product-analytics operators over the events stream table: ordered
funnel conversion, retention cohorts, ordered string aggregation, and
JSON serialization (the write direction of the JSON family).

Funnels and cohorts are the two queries every event warehouse runs
daily; both reduce to one user-keyed aggregation — no self-joins, no
window-per-stage, no row explosion.

Scale notes:
* Funnel: ONE groupBy(user_id) with conditional min aggregates (the
  pivot-by-predicate pattern) replaces the naive k-way self-join of
  the event log with itself; the follow-up stage rollup aggregates
  |users| rows down to k stages. One data-sized shuffle total.
* Cohorts: first-touch per user (one agg), broadcast back onto the
  events (the user->cohort map is |users| rows, dimension-sized),
  then one (cohort, offset) agg. Two keyed shuffles, both map-side
  combined.
* String agg: collect_set stays bounded because the value domain is
  bounded (priorities); ordering is imposed with array_sort so the
  result is deterministic under any partitioning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

FUNNEL = ("view", "click", "purchase")


@query(
    "events_funnel_conversion",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   MIN(ts) FILTER (WHERE event_type = 'view')     AS t_view,
                   MIN(ts) FILTER (WHERE event_type = 'click')    AS t_click,
                   MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
            FROM events GROUP BY user_id
        ),
        s AS (
            SELECT CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT)
                       AS n_view,
                   CAST(COUNT(*) FILTER (WHERE t_click > t_view) AS BIGINT)
                       AS n_click,
                   CAST(COUNT(*) FILTER (WHERE t_click > t_view
                                           AND t_purchase > t_click) AS BIGINT)
                       AS n_purchase
            FROM u
        )
        SELECT stage, n_users,
               ROUND(CAST(n_users AS DOUBLE)
                     / NULLIF(MAX(n_users) OVER (), 0), 6) AS pct_of_entry
        FROM s
        UNPIVOT (n_users FOR stage IN (n_view AS 'view', n_click AS 'click',
                                       n_purchase AS 'purchase'))
    """,
    tags=("events", "analytics", "funnel"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts a
    stage only if their FIRST event of that stage happens strictly
    after their first event of the previous stage. One conditional-min
    aggregation per user replaces the k-way self-join."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in FUNNEL
        ]
    )
    counts = firsts.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("n_click"),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_purchase"),
    )
    long = counts.unpivot([], [f"n_{s}" for s in FUNNEL], "stage", "n_users").select(
        F.regexp_replace("stage", "^n_", "").alias("stage"), "n_users"
    )
    entry = long.agg(F.max("n_users").alias("entry"))
    return long.crossJoin(F.broadcast(entry)).select(
        "stage",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.nullif("entry", F.lit(0)), 6
        ).alias("pct_of_entry"),
    )


@query(
    "events_retention_cohorts",
    oracle="""
        WITH first_touch AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        )
        SELECT STRFTIME(cohort_week, '%Y-%m-%d') AS cohort_week,
               CAST(FLOOR(date_diff('day', cohort_week,
                                    CAST(e.ts AS DATE)) / 7.0) AS INT)
                   AS week_offset,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
        FROM events e JOIN first_touch f USING (user_id)
        GROUP BY 1, 2
    """,
    tags=("events", "analytics", "cohort"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen ISO week, counted
    distinct in each subsequent week offset. The user->cohort map is
    dimension-sized and broadcast back onto the event log; the final
    agg is map-side-combined on (cohort, offset)."""
    e = load_table(spark, sf_dir, "events")
    first_touch = e.groupBy("user_id").agg(
        F.trunc(F.min("ts"), "week").alias("cohort_week")
    )
    return (
        e.join(F.broadcast(first_touch), "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7.0
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "agg_string_concat",
    oracle="""
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ','
                          ORDER BY o_orderpriority) AS priorities,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("aggregate", "string", "listagg"),
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): distinct values
    sorted then joined, deterministic under any partitioning (an
    unordered listagg is nondeterministic by definition — the sort is
    the portable form). collect_set stays bounded: the value domain is
    the 5 priorities, not the row count."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority"))).alias(
            "priorities"
        ),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
    )


@query(
    "scalar_to_json",
    oracle="""
        SELECT o_orderkey,
               to_json(struct_pack(
                   key := o_orderkey,
                   status := o_orderstatus,
                   price := ROUND(o_totalprice, 2),
                   day := STRFTIME(o_orderdate, '%Y-%m-%d')
               )) AS doc,
               to_json([o_orderkey, o_custkey]) AS key_pair
        FROM orders
    """,
    tags=("scalar", "json", "serialization"),
)
def scalar_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON serialization (the write direction of the from_json /
    get_json_object family): struct and array assembly -> compact JSON
    text. Field order is definition order in both engines; both emit
    compact separators, so the text is byte-identical."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("key"),
                F.col("o_orderstatus").alias("status"),
                F.round("o_totalprice", 2).alias("price"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            )
        ).alias("doc"),
        F.to_json(F.array("o_orderkey", "o_custkey")).alias("key_pair"),
    )


SESSION_GAP_SEC = 21_600  # 6 h inactivity closes a session


@query(
    "events_gap_islands_sessions",
    oracle=f"""
        WITH o AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch_us(ts)
                             - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id)
                             > CAST({SESSION_GAP_SEC} AS BIGINT) * 1000000
                          OR LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM events
        ),
        s AS (
            SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM o
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               CAST(COUNT(*) AS BIGINT)             AS n_events,
               epoch_us(MIN(ts))                    AS session_start,
               epoch_us(MAX(ts))                    AS session_end,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                                                    AS duration_sec,
               ROUND(SUM(value), 6)                 AS spend
        FROM s GROUP BY user_id, session_seq
    """,
    tags=("events", "analytics", "sessionization"),
)
def events_gap_islands_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-islands sessionization in BATCH: a session break is an
    inactivity gap > 6 h; session ids are the running count of breaks
    (lag + cumulative sum), then one aggregate per (user, session).
    The batch complement of ``events_session_window`` / the streaming
    session window — this form works on any historical log and yields
    a stable per-user session sequence number.

    Scale: both windows and the final aggregate share ONE
    hash-partitioning by user_id — Catalyst plans a single shuffle,
    and per-user state is O(1) (lag + running sum, no buffering)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    brk = F.when(
        gap.isNull() | (gap > SESSION_GAP_SEC * 1_000_000), 1
    ).otherwise(0)
    s = e.withColumn(
        "session_seq",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start"),
        F.unix_micros(F.max("ts")).alias("session_end"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000)
        ).cast("bigint").alias("duration_sec"),
        F.round(F.sum("value"), 6).alias("spend"),
    )


# Single-char symbol per event type; concatenated per user in time
# order, the log becomes a string the pattern engine can scan.
EVENT_SYMBOLS = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "signup": "s",
    "error": "e",
}
# A conversion: a view, then a click, then a purchase, with no earlier
# purchase in between. [^p]* cannot cross a 'p', so the match span is
# unambiguous (ends at the FIRST p after the v) — greedy-vs-lazy and
# backtracking-vs-automaton engines agree on it.
CONVERSION_PATTERN = "v[^p]*c[^p]*p"


@query(
    "events_sequence_pattern",
    oracle=f"""
        WITH sym AS (
            SELECT user_id, ts, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        ELSE 'e' END AS s
            FROM events
        ),
        seq AS (
            SELECT user_id,
                   string_agg(s, '' ORDER BY ts, event_id) AS path
            FROM sym GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(path) AS BIGINT) AS seq_len,
               CAST(len(regexp_extract_all(path, '{CONVERSION_PATTERN}'))
                    AS BIGINT)              AS n_conversions,
               (length(path) - length(replace(path, 'vcp', ''))) // 3
                                            AS n_vcp_literal
        FROM seq
    """,
    tags=("events", "analytics", "sequence", "pattern"),
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection: per-user event
    history is reduced to a symbol string in time order, then scanned
    with a regular expression (view -> click -> purchase with no
    intervening purchase) — the classic trick for funnel-with-ordering
    constraints that SQL alone can't express without k-way self-joins.

    Scale: one groupBy(user_id) shuffle; the per-user path string is
    bounded by per-entity activity (cap with slice() for mega-users).
    The regex scan is a map over |users| rows — embarrassingly
    parallel, whole-stage codegen'd, no Python."""
    e = load_table(spark, sf_dir, "events")
    sym = F.col("event_type")
    sym_expr = (
        F.when(sym == "view", "v")
        .when(sym == "click", "c")
        .when(sym == "purchase", "p")
        .when(sym == "signup", "s")
        .otherwise("e")
    )
    seq = (
        e.select("user_id", "ts", "event_id", sym_expr.alias("s"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "s"))),
                    lambda x: x["s"],
                ),
                "",
            ).alias("path")
        )
    )
    return seq.select(
        "user_id",
        F.length("path").cast("bigint").alias("seq_len"),
        F.size(F.regexp_extract_all("path", F.lit(CONVERSION_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("n_conversions"),
        (
            (F.length("path") - F.length(F.regexp_replace("path", "vcp", "")))
            / F.lit(3)
        ).cast("bigint").alias("n_vcp_literal"),
    )


@query(
    "events_time_weighted_avg",
    oracle="""
        WITH o AS (
            SELECT user_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                       - epoch_us(ts) AS dt_us
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT)                        AS n_obs,
               CASE WHEN SUM(dt_us) > 0
                    THEN ROUND(CAST(SUM(cents * dt_us) AS DOUBLE)
                               / CAST(SUM(dt_us) AS DOUBLE) / 100.0, 6) + 0
                    ELSE NULL END                              AS twap
        FROM o WHERE dt_us IS NOT NULL
        GROUP BY user_id
    """,
    tags=("events", "analytics", "timeseries", "twap"),
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each observation is
    weighted by how long it REMAINED current (duration to the next
    event), the correct average for irregularly sampled series where
    the plain mean over-weights bursts.

    Both the numerator Σ cents·Δt and denominator Σ Δt are EXACT
    integers (cents·micros products in DECIMAL(38,0)/HUGEINT — the
    old float Σ value·Δt was combine-order-sensitive, the flake class
    the r10-continuation sweep caught in ``analytics_abc_pareto``);
    the TWAP is ONE float expression off the two exact sums. A
    user whose kept observations all have Δt = 0 (equal-timestamp
    runs at the stream tail) degrades to NULL on both engines — never
    an engine-specific 0/0.

    Scale: one lead() window and the aggregate share a single user_id
    hash-partitioning — one shuffle; durations are exact micros
    bigints, only the final ratio is floating point."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    o = e.select(
        "user_id",
        cents.alias("cents"),
        (F.lead(us).over(w) - us).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    g = o.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum((F.col("cents") * F.col("dt_us")).cast("decimal(38,0)")).alias(
            "num"
        ),
        F.sum("dt_us").cast("bigint").alias("den"),
    )
    return g.select(
        "user_id",
        "n_obs",
        F.when(
            F.col("den") > 0,
            F.round(
                F.col("num").cast("double")
                / F.col("den").cast("double")
                / 100.0,
                6,
            ),
        ).alias("twap"),
    )


# ordering key for open/close arg-extrema: fixed-width zero-padded
# string "micros-since-epoch || event_id" — bytewise string order ==
# (ts, id) lexicographic order, with NO collision at any scale (a
# bigint encoding would need micros_span * id_bound < 2^63, which a
# 30-day corpus already breaks for id bounds past ~2^21)
OHLC_EPOCH = "2024-01-01 00:00:00"


@query(
    "events_ohlc_bars",
    oracle=f"""
        WITH t AS (
            SELECT epoch_us(ts) // (CAST(86400 AS BIGINT) * 1000000) AS day_idx,
                   value,
                   lpad(CAST(epoch_us(ts) - epoch_us(TIMESTAMP '{OHLC_EPOCH}')
                             AS VARCHAR), 20, '0')
                       || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
            FROM events
        )
        SELECT day_idx,
               MIN_BY(value, ord)       AS open,
               MAX(value)               AS high,
               MIN(value)               AS low,
               MAX_BY(value, ord)       AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM t GROUP BY day_idx
    """,
    tags=("events", "analytics", "timeseries", "ohlc"),
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles over the event stream: open/close are
    arg-extrema over an exact fixed-width string ordering key
    ("micros-since-epoch || event_id", both zero-padded — bytewise
    string comparison equals (ts, id) lexicographic order in BOTH
    engines, with no modular tiebreak collision and no int64 overflow
    bound), high/low are plain extremes. Every output is an exact
    input value — no floating-point arithmetic, so no rounding.

    Scale: single groupBy on the time bucket, all six aggregates
    algebraic and map-side combined — the canonical downsampling shape
    for a market-data hypertable."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    epoch0 = F.unix_micros(F.lit(OHLC_EPOCH).cast("timestamp"))
    t = e.select(
        (us / F.lit(86_400 * 1_000_000)).cast("bigint").alias("day_idx"),
        "value",
        F.concat(
            F.lpad((us - epoch0).cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("ord"),
    )
    return t.groupBy("day_idx").agg(
        F.min_by("value", "ord").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord").alias("close"),
        F.count("*").cast("bigint").alias("n_events"),
    )


# synthetic session length: 30..119 s keyed by event_id, so both
# engines restate the identical interval derivation
CONC_DUR_SQL = "(30 + event_id % 90)"


@query(
    "events_max_concurrency",
    oracle=f"""
        WITH iv AS (
            SELECT epoch_us(ts) // (CAST(86400 AS BIGINT) * 1000000) AS day_idx,
                   epoch_us(ts) AS s,
                   LEAST(epoch_us(ts) + {CONC_DUR_SQL} * 1000000,
                         (epoch_us(ts) // (CAST(86400 AS BIGINT) * 1000000) + 1)
                             * CAST(86400 AS BIGINT) * 1000000) AS e
            FROM events
        ),
        pts AS (
            SELECT day_idx, s * 2 + 1 AS ord, 1 AS delta FROM iv
            UNION ALL
            SELECT day_idx, e * 2, -1 FROM iv
        ),
        sweep AS (
            SELECT day_idx,
                   SUM(delta) OVER (PARTITION BY day_idx ORDER BY ord
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS live
            FROM pts
        )
        SELECT day_idx,
               CAST(MAX(live) AS BIGINT) AS peak_concurrency
        FROM sweep GROUP BY day_idx ORDER BY day_idx
    """,
    tags=("events", "analytics", "sweep-line", "intervals"),
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the SWEEP-LINE interval
    operator (how many intervals overlap at the busiest instant):
    every session contributes a +1 point at its start and a −1 at its
    end (end-exclusive: the ordering key ``t*2 + delta01`` sorts an
    end strictly before a coincident start, deterministically in both
    engines), a running sum inside each day partition walks the
    timeline, and the per-day max is the answer. Sessions are clipped
    at midnight so each day's sweep is self-contained.

    Scale: the window is PARTITIONED BY day — every day sweeps in
    parallel, state is one long per row, and no global ordering
    exists anywhere in the plan. Unclipped cross-partition intervals
    would add a per-partition carry-in offset (the same broadcast
    prefix pattern as ``stats_ks_two_sample``); the clipped form is
    the common ops-dashboard semantics ("peak concurrency per day").
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    day_us = F.lit(86_400 * 1_000_000)
    day_idx = (us / day_us).cast("bigint")
    start = us
    end = F.least(
        us + (F.lit(30) + F.col("event_id") % 90) * 1_000_000,
        (day_idx + 1) * day_us,
    )
    iv = e.select(day_idx.alias("day_idx"), start.alias("s"), end.alias("e"))
    pts = iv.select(
        "day_idx", (F.col("s") * 2 + 1).alias("ord"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("day_idx", (F.col("e") * 2).alias("ord"), F.lit(-1).alias("delta"))
    )
    from pyspark.sql import Window

    sweep = Window.partitionBy("day_idx").orderBy("ord").rowsBetween(
        Window.unboundedPreceding, 0
    )
    live = pts.select(
        "day_idx", F.sum("delta").over(sweep).alias("live")
    )
    return (
        live.groupBy("day_idx")
        .agg(F.max("live").cast("bigint").alias("peak_concurrency"))
        .orderBy("day_idx")
    )


EWMA_ALPHA = 0.2     # smoothing factor
EWMA_LOOKBACK = 64   # FIR truncation: dropped tail weight = 0.8^64 ~ 6e-7


@query(
    "events_ewma_deviation",
    oracle=f"""
        WITH o AS (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   list(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN {EWMA_LOOKBACK - 1} PRECEDING
                                          AND CURRENT ROW) AS win
            FROM events
        ),
        s AS (
            SELECT user_id, value, rn,
                   {EWMA_ALPHA} * list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE), win),
                       (acc, v) -> {1 - EWMA_ALPHA} * acc + v)
                   / (1 - POWER({1 - EWMA_ALPHA}, len(win))) AS ewma
            FROM o
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT)               AS n_events,
               ROUND(arg_max(ewma, rn), 6)            AS ewma_final,
               ROUND(AVG(ewma), 6)                    AS ewma_mean,
               ROUND(MAX(ABS(value - ewma)), 6)       AS max_abs_dev
        FROM s
        GROUP BY user_id
    """,
    tags=("events", "analytics", "timeseries", "ewma", "anomaly"),
)
def events_ewma_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (alpha = 0.2) with
    the max deviation |x - EWMA| — the standard streaming spike
    detector, here in its batch/backfill form.

    The recursion s = a*x + (1-a)*s_prev is truncated to a 64-row FIR
    window (dropped tail weight 0.8^64 ~ 6e-7, below the 1e-6 output
    rounding) and evaluated as a HORNER FOLD over the window's values
    — every term stays at data scale, so there is none of the
    overflow/cancellation that the closed-form power trick hits on
    long series, and the strictly sequential fold order makes the
    result bit-reproducible across engines and partitionings.
    Early rows normalize by the ACTUAL window mass (1-(1-a)^n), which
    is exactly EWMA-initialized-at-first-observation semantics.

    Scale: one shuffle on user_id shared by the window and the final
    aggregate; per-row state is the O(L)=64-value frame, independent
    of history length — at 100 TB each task streams its users in ts
    order with constant memory."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wl = w.rowsBetween(-(EWMA_LOOKBACK - 1), 0)
    beta = F.lit(1.0 - EWMA_ALPHA)
    o = e.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.collect_list("value").over(wl).alias("win"),
    )
    s = o.select(
        "user_id",
        "value",
        "rn",
        (
            EWMA_ALPHA
            * F.aggregate(
                F.col("win"), F.lit(0.0), lambda acc, v: beta * acc + v
            )
            / (1 - F.pow(beta, F.size("win")))
        ).alias("ewma"),
    )
    return s.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.max_by("ewma", "rn"), 6).alias("ewma_final"),
        F.round(F.avg("ewma"), 6).alias("ewma_mean"),
        F.round(F.max(F.abs(F.col("value") - F.col("ewma"))), 6).alias("max_abs_dev"),
    )


ATTR_TOUCHES = ("click", "view")
ATTR_WINDOW_MIN = 7 * 24 * 60  # lookback: touch within 7 days converts


@query(
    "events_attribution_last_touch",
    oracle=f"""
        WITH o AS (
            SELECT event_type, value, ts,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN epoch_us(ts) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS touch_us,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS touch_type
            FROM events
        ),
        p AS (
            SELECT value,
                   CASE WHEN touch_us IS NOT NULL
                             AND epoch_us(ts) - touch_us
                                 <= {ATTR_WINDOW_MIN * 60_000_000}
                        THEN touch_type ELSE 'none' END AS attributed_to,
                   CASE WHEN touch_us IS NOT NULL
                             AND epoch_us(ts) - touch_us
                                 <= {ATTR_WINDOW_MIN * 60_000_000}
                        THEN (epoch_us(ts) - touch_us) / 60000000.0
                   END AS mins_to_convert
            FROM o WHERE event_type = 'purchase'
        )
        SELECT attributed_to,
               CAST(COUNT(*) AS BIGINT)        AS n_purchases,
               ROUND(SUM(value), 4)            AS attributed_value,
               ROUND(AVG(mins_to_convert), 4)  AS avg_mins_to_convert
        FROM p
        GROUP BY attributed_to
    """,
    tags=("events", "analytics", "attribution", "sessionization"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the most
    recent click/view by the same user within a 7-day lookback (else
    'none'), rolled up to credited-channel totals and the mean
    touch-to-conversion latency.

    One window per user carries the last-touch state (two
    last_value(... IGNORE NULLS) columns over the same frame — both
    project the SAME predecessor row, so type and timestamp stay
    consistent); the purchase filter and the attribution CASE are
    map-side after it. One user_id shuffle total, O(1) window state —
    the carry-forward idiom shared with the as-of join
    (relational.join_asof_purchase_click), here fused with the
    lookback-expiry rule."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    touch_us = F.last(
        F.when(F.col("event_type").isin(*ATTR_TOUCHES), us), ignorenulls=True
    ).over(w)
    touch_type = F.last(
        F.when(F.col("event_type").isin(*ATTR_TOUCHES), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    o = e.select(
        "event_type", "value", us.alias("now_us"),
        touch_us.alias("touch_us"), touch_type.alias("touch_type"),
    ).filter(F.col("event_type") == "purchase")
    in_window = F.col("touch_us").isNotNull() & (
        F.col("now_us") - F.col("touch_us") <= ATTR_WINDOW_MIN * 60_000_000
    )
    p = o.select(
        "value",
        F.when(in_window, F.col("touch_type")).otherwise("none").alias(
            "attributed_to"
        ),
        F.when(
            in_window, (F.col("now_us") - F.col("touch_us")) / 60_000_000.0
        ).alias("mins_to_convert"),
    )
    return p.groupBy("attributed_to").agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.round(F.sum("value"), 4).alias("attributed_value"),
        F.round(F.avg("mins_to_convert"), 4).alias("avg_mins_to_convert"),
    )


RFM_Q = (0.2, 0.4, 0.6, 0.8)  # quintile cutoffs


@query(
    "analytics_rfm_segmentation",
    oracle=f"""
        WITH cust AS (
            SELECT o_custkey,
                   date_diff('day', MAX(o_orderdate),
                             (SELECT MAX(o_orderdate) FROM orders)) AS recency,
                   CAST(COUNT(*) AS DOUBLE)  AS frequency,
                   -- exact integer cents: double spend sums differ by an
                   -- ULP cross-engine and flipped ROUND(AVG, 4) in the
                   -- r07 bit-exact sweep
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT)           AS monetary
            FROM orders GROUP BY o_custkey
        ),
        cuts AS (
            SELECT
              {", ".join(
                  f"ROUND(QUANTILE_CONT({m}, {q}), 6) AS {m[0]}q{i}"
                  for m in ("recency", "frequency", "monetary")
                  for i, q in enumerate(RFM_Q, 1))}
            FROM cust
        ),
        scored AS (
            SELECT 6 - (1 + (recency > rq1)::INT + (recency > rq2)::INT
                          + (recency > rq3)::INT + (recency > rq4)::INT)
                       AS r_score,
                   1 + (frequency > fq1)::INT + (frequency > fq2)::INT
                     + (frequency > fq3)::INT + (frequency > fq4)::INT
                       AS f_score,
                   1 + (monetary > mq1)::INT + (monetary > mq2)::INT
                     + (monetary > mq3)::INT + (monetary > mq4)::INT
                       AS m_score,
                   monetary
            FROM cust CROSS JOIN cuts
        )
        SELECT r_score, f_score, m_score,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(monetary) AS DOUBLE)
               / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_monetary
        FROM scored
        GROUP BY r_score, f_score, m_score
    """,
    tags=("analytics", "rfm", "segmentation", "orders"),
)
def analytics_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quintile scores for Recency (days
    since last order, inverted so fresher = higher), Frequency (order
    count), and Monetary (total spend, exact integer cents so the
    segment averages are one bit-exact float division rather than a
    ROUND over cross-engine double sums), rolled up to segment sizes.

    Plan: one order scan to the customer grain; the 12 quintile
    cutoffs are ONE aggregate row broadcast back (cutoffs are ROUNDed
    to 1e-6 in both engines before comparison so an interpolation ulp
    can never flip a boundary assignment); scoring is pure map-side
    arithmetic; the final rollup has <= 125 keys. The exact
    percentile() here runs at the CUSTOMER grain — dimension-sized,
    not fact-sized; at 100 TB the cutoffs come from
    ``agg_percentiles_twophase`` instead, same downstream plan."""
    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    cust = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("ref_date"), F.max("o_orderdate")).alias("recency"),
            F.count("*").cast("double").alias("frequency"),
            # exact integer cents — see the oracle comment
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary"),
        )
    )
    cuts = cust.agg(
        *[
            F.round(F.percentile(m, q), 6).alias(f"{m[0]}q{i}")
            for m in ("recency", "frequency", "monetary")
            for i, q in enumerate(RFM_Q, 1)
        ]
    )
    def score(m: str):
        base = sum(
            (F.col(m) > F.col(f"{m[0]}q{i}")).cast("int")
            for i in range(1, 5)
        )
        return base + 1

    scored = cust.crossJoin(F.broadcast(cuts)).select(
        (6 - score("recency")).alias("r_score"),
        score("frequency").alias("f_score"),
        score("monetary").alias("m_score"),
        "monetary",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        (
            F.sum("monetary").cast("double")
            / (F.count("*") * 100).cast("double")
        ).alias("avg_monetary"),
    )


@query(
    "events_cohort_ltv",
    oracle="""
        WITH first_touch AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        size AS (
            SELECT cohort_week, COUNT(*) AS cohort_users
            FROM first_touch GROUP BY cohort_week
        ),
        rev AS (
            SELECT f.cohort_week,
                   CAST(FLOOR(date_diff('day', f.cohort_week,
                                        CAST(e.ts AS DATE)) / 7.0) AS INT)
                       AS week_offset,
                   SUM(e.value) AS revenue
            FROM events e
            JOIN first_touch f USING (user_id)
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT STRFTIME(r.cohort_week, '%Y-%m-%d') AS cohort_week,
               r.week_offset,
               ROUND(r.revenue, 4) AS revenue,
               ROUND(SUM(r.revenue) OVER (PARTITION BY r.cohort_week
                                          ORDER BY r.week_offset)
                     / s.cohort_users, 6) AS cum_ltv_per_user
        FROM rev r JOIN size s USING (cohort_week)
    """,
    tags=("events", "analytics", "cohort", "ltv"),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: purchase revenue per (first-seen
    week, week offset), cumulated into running LTV per cohort user —
    the payback view stacked on top of ``events_retention_cohorts``.

    The user->cohort map is dimension-sized and broadcast onto the
    purchase stream; the cumulative window runs over the (cohort,
    offset) AGGREGATE (a few dozen rows), partitioned by cohort —
    never over events."""
    e = load_table(spark, sf_dir, "events")
    first_touch = e.groupBy("user_id").agg(
        F.trunc(F.min("ts"), "week").alias("cohort_week")
    )
    size = first_touch.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_touch), "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7.0)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.sum("value").alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(size), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            F.round("revenue", 4).alias("revenue"),
            F.round(
                F.sum("revenue").over(w) / F.col("cohort_users"), 6
            ).alias("cum_ltv_per_user"),
        )
    )


@query(
    "analytics_mom_growth",
    oracle="""
        WITH m AS (
            SELECT STRFTIME(date_trunc('month', o_orderdate), '%Y-%m')
                       AS month,
                   SUM(o_totalprice)        AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT month, ROUND(revenue, 2) AS revenue, n_orders,
               ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                     / LAG(revenue) OVER (ORDER BY month), 6) AS mom_growth,
               ROUND(AVG(revenue) OVER (ORDER BY month
                                        ROWS BETWEEN 2 PRECEDING
                                             AND CURRENT ROW), 2)
                   AS revenue_3mo_avg
        FROM m
    """,
    tags=("analytics", "timeseries", "growth", "orders"),
)
def analytics_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth with a trailing 3-month moving
    average — the KPI spine of every revenue dashboard. The fact table
    aggregates to |months| rows in one map-side-combined pass; both
    windows (lag, moving average) run over that tiny month spine, so
    the unpartitioned ordering is over dozens of rows, never data."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum("o_totalprice").alias("revenue"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = Window.orderBy("month")
    w3 = w.rowsBetween(-2, 0)
    return m.select(
        "month",
        F.round("revenue", 2).alias("revenue"),
        "n_orders",
        F.round(
            (F.col("revenue") - F.lag("revenue").over(w))
            / F.lag("revenue").over(w),
            6,
        ).alias("mom_growth"),
        F.round(F.avg("revenue").over(w3), 2).alias("revenue_3mo_avg"),
    )


ABC_A = 0.8   # cumulative-revenue share boundary for class A (= 4/5)
ABC_B = 0.95  # class B boundary (= 19/20); the tail is class C


@query(
    "analytics_abc_pareto",
    oracle="""
        WITH rev AS (
            SELECT p.p_brand, l.l_partkey,
                   SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                       AS r_cc
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY p.p_brand, l.l_partkey
        ),
        ranked AS (
            SELECT p_brand, r_cc,
                   SUM(r_cc) OVER (PARTITION BY p_brand
                                   ORDER BY r_cc DESC, l_partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cum_cc,
                   SUM(r_cc) OVER (PARTITION BY p_brand) AS tot_cc
            FROM rev
        ),
        classed AS (
            SELECT p_brand, r_cc, tot_cc,
                   CASE WHEN 5 * cum_cc <= 4 * tot_cc THEN 'A'
                        WHEN 20 * cum_cc <= 19 * tot_cc THEN 'B'
                        ELSE 'C' END AS abc
            FROM ranked
        )
        SELECT p_brand, abc,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               ROUND(CAST(SUM(r_cc) AS DOUBLE) / 10000.0, 2) AS revenue,
               ROUND(CAST(SUM(r_cc) AS DOUBLE)
                     / CAST(MAX(tot_cc) AS DOUBLE), 6) + 0 AS revenue_share
        FROM classed
        GROUP BY p_brand, abc
    """,
    tags=("analytics", "pareto", "abc", "lineitem"),
)
def analytics_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by discounted revenue
    within each brand: class A carries the first 80% of cumulative
    revenue, B to 95%, C the tail — the inventory-curation screen,
    and structurally the same running-share cut a corpus token-budget
    pass makes (curation_token_budget_select).

    EXACT-INTEGER discipline throughout (re-armored after an r10
    continuation sweep caught a load-dependent 1-in-N ULP flip under
    the old engine-side float SUM + ROUND — the r06 class, invisible
    until a thread schedule reorders the sum): per-row revenue is the
    exact integer cents·(100−disc_cents) in centi-cents (both factors
    have 2 decimals, so the product is EXACT — no float multiply),
    every running/total sum accumulates integers
    (DECIMAL(38,0)/HUGEINT — centi-cents ×1e12 rows clears int64),
    the ordering key is an exact integer (the float key could
    ULP-reorder cross-engine), and the A/B cuts are exact integer
    comparisons 5·cum ≤ 4·tot and 20·cum ≤ 19·tot. The ONLY floats
    are the two display divisions off exact integers. Certified r08
    on the float form → re-enters the driver window under the
    dirty-since-certification rule.

    One fact shuffle to the (brand, part) grain; the running-share
    window is PARTITIONED BY brand (never global) and ordered by the
    deterministic (revenue DESC, partkey) key; the final rollup is
    <= |brands| x 3 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100).cast("bigint")
    rev = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum((cents * (100 - disc_c)).cast("decimal(38,0)")).alias(
                "r_cc"
            )
        )
    )
    wcum = (
        Window.partitionBy("p_brand")
        .orderBy(F.desc("r_cc"), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("p_brand")
    classed = rev.select(
        "p_brand",
        "r_cc",
        F.sum("r_cc").over(wcum).alias("cum_cc"),
        F.sum("r_cc").over(wtot).alias("tot_cc"),
    ).select(
        "p_brand",
        "r_cc",
        "tot_cc",
        F.when(5 * F.col("cum_cc") <= 4 * F.col("tot_cc"), "A")
        .when(20 * F.col("cum_cc") <= 19 * F.col("tot_cc"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    return classed.groupBy("p_brand", "abc").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("r_cc").cast("double") / 10000.0, 2).alias("revenue"),
        F.round(
            F.sum("r_cc").cast("double") / F.max("tot_cc").cast("double"), 6
        ).alias("revenue_share"),
    )


@query(
    "events_attribution_linear",
    oracle=f"""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        ),
        t AS (
            SELECT event_id AS touch_id, event_type AS touch_type,
                   user_id, ts
            FROM events WHERE event_type IN ('click', 'view')
        ),
        j AS (
            SELECT p.purchase_id, p.value, t.touch_type
            FROM p JOIN t
              ON t.user_id = p.user_id
             AND t.ts <= p.ts
             AND epoch_us(p.ts) - epoch_us(t.ts)
                 <= {ATTR_WINDOW_MIN * 60_000_000}
        ),
        w AS (
            SELECT purchase_id, value, touch_type,
                   COUNT(*) OVER (PARTITION BY purchase_id) AS n_touches_p
            FROM j
        )
        SELECT touch_type,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               ROUND(SUM(1.0 / n_touches_p), 4) AS attributed_conversions,
               ROUND(SUM(value / n_touches_p), 2) AS attributed_value
        FROM w GROUP BY touch_type
    """,
    tags=("events", "analytics", "attribution", "join"),
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution — the fairness
    counterpoint to ``events_attribution_last_touch``: every click/view
    in the 7-day lookback before a purchase shares the conversion (and
    its value) equally, credit 1/n per touch.

    The purchase↔touch pairing is a user-keyed join with a time-range
    predicate: pair count is bounded by touches-per-user within the
    lookback (per-user bounded, never |events|²); the per-purchase
    touch count comes from one purchase-keyed window over the joined
    pairs. Credits are exact rationals cnt/n summed in double — rounded
    at 4/2 so accumulation order can't leak cross-engine."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    t = e.where(F.col("event_type").isin(*ATTR_TOUCHES)).select(
        F.col("event_type").alias("touch_type"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
    )
    j = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (
            F.unix_micros("p_ts") - F.unix_micros("t_ts")
            <= ATTR_WINDOW_MIN * 60_000_000
        ),
    ).select("purchase_id", "value", "touch_type")
    w = Window.partitionBy("purchase_id")
    credited = j.withColumn("n_touches_p", F.count("*").over(w))
    return credited.groupBy("touch_type").agg(
        F.count("*").alias("n_touches"),
        F.round(F.sum(1.0 / F.col("n_touches_p")), 4).alias(
            "attributed_conversions"
        ),
        F.round(F.sum(F.col("value") / F.col("n_touches_p")), 2).alias(
            "attributed_value"
        ),
    )


@query(
    "events_time_to_convert",
    oracle="""
        WITH f AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view'
                            THEN epoch_us(ts) END) AS first_view,
                   MIN(CASE WHEN event_type = 'purchase'
                            THEN epoch_us(ts) END) AS first_purchase
            FROM events GROUP BY user_id
        ),
        conv AS (
            SELECT user_id,
                   first_purchase - first_view AS lag_us
            FROM f
            WHERE first_view IS NOT NULL
              AND first_purchase IS NOT NULL
              AND first_purchase >= first_view
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
               CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
               CAST(MAX(lag_us) AS BIGINT) AS max_lag_us,
               ROUND(SUM(lag_us) / COUNT(*) / 3600000000.0, 4)
                   AS avg_lag_hours,
               CAST(SUM(CASE WHEN lag_us <= 86400000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS converted_within_1d
        FROM conv
    """,
    tags=("events", "analytics", "funnel", "latency"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: per user, the lag from FIRST view to FIRST
    purchase (users whose first purchase precedes any view are
    excluded — no view-driven conversion to measure), with the
    within-24h conversion count — the funnel-velocity companion to
    ``events_funnel_conversion``.

    One user-keyed conditional-MIN aggregation collapses the stream to
    a row per user; everything downstream is a scalar aggregate of
    integer microsecond lags (EXACT sums — the average divides an exact
    integer, so the output is bit-identical cross-engine)."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_purchase"),
    )
    conv = f.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).alias("lag_us"))
    return conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.min("lag_us").cast("bigint").alias("min_lag_us"),
        F.max("lag_us").cast("bigint").alias("max_lag_us"),
        F.round(
            F.sum("lag_us") / F.count("*") / 3_600_000_000.0, 4
        ).alias("avg_lag_hours"),
        F.sum(
            F.when(F.col("lag_us") <= 86_400_000_000, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("converted_within_1d"),
    )


_BOT_MIN_GAPS = 20
_BOT_TOPK = 10


@query(
    "analytics_bot_regularity",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
        ),
        buckets AS (
            SELECT user_id,
                   CAST(FLOOR(LOG2(gap_us // 1000000 + 1)) AS BIGINT) AS bucket
            FROM ordered WHERE gap_us IS NOT NULL
        ),
        bc AS (
            SELECT user_id, bucket, COUNT(*) AS c
            FROM buckets GROUP BY user_id, bucket
        ),
        ent AS (
            SELECT user_id,
                   CAST(SUM(c) AS BIGINT) AS n_gaps,
                   ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 6)
                       AS gap_entropy
            FROM bc GROUP BY user_id
        )
        SELECT user_id, n_gaps, gap_entropy
        FROM ent WHERE n_gaps >= {_BOT_MIN_GAPS}
        ORDER BY gap_entropy, user_id LIMIT {_BOT_TOPK}
    """,
    tags=("analytics", "events", "anomaly", "entropy", "window", "topk"),
)
def analytics_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by inter-arrival regularity: per user,
    the Shannon entropy of log2-bucketed event gaps — scripted clients
    fire on fixed timers (one dominant bucket, entropy near 0) while
    humans spread across gap scales. Surfaces the 10 most-regular
    high-volume users.

    Determinism: gaps are exact integer epoch MICROseconds (the repo's
    cross-engine timestamp idiom), the gap bucket is floor(log2) of an
    integer, and entropy uses the algebraic identity
    H = log2(n) - sum(c*log2(c))/n so each engine computes the same
    function of exact integer counts.

    100 TB design: the lag window and both aggregates share ONE
    user-keyed partitioning (no unpartitioned window ever sees fact
    data); counts combine map-side; the final top-k is
    TakeOrderedAndProject over the per-user frame.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).where(F.col("gap_us").isNotNull())
    buckets = gaps.select(
        "user_id",
        F.floor(F.log2((F.col("gap_us") / 1000000).cast("bigint") + 1))
        .cast("bigint")
        .alias("bucket"),
    )
    bc = buckets.groupBy("user_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    ent = bc.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_gaps"),
        F.round(
            F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 6
        ).alias("gap_entropy"),
    )
    return (
        ent.where(F.col("n_gaps") >= _BOT_MIN_GAPS)
        .orderBy("gap_entropy", "user_id")
        .limit(_BOT_TOPK)
    )


# --- Maximum drawdown of the daily revenue series ------------------------


@query(
    "analytics_max_drawdown",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS c
            FROM orders GROUP BY 1
        ),
        runmax AS (
            SELECT d, c,
                   MAX(c) OVER (ORDER BY d
                       ROWS UNBOUNDED PRECEDING) AS peak_c
            FROM daily
        ),
        trough AS (
            SELECT d AS trough_day, c AS trough_c, peak_c
            FROM runmax
            ORDER BY peak_c - c DESC, d LIMIT 1
        )
        SELECT CAST((SELECT MIN(r.d) FROM runmax r, trough t
                     WHERE r.c = t.peak_c AND r.d <= t.trough_day)
                    AS VARCHAR) AS peak_day,
               CAST(trough_day AS VARCHAR) AS trough_day,
               ROUND(peak_c / 100.0, 2) AS peak_rev,
               ROUND(trough_c / 100.0, 2) AS trough_rev,
               ROUND((peak_c - trough_c) / 100.0, 2) AS max_drawdown,
               ROUND((peak_c - trough_c) * 100.0 / peak_c, 4) AS dd_pct
        FROM trough
    """,
    tags=("analytics", "timeseries", "window", "orders"),
)
def analytics_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of daily revenue: the worst peak-to-trough
    decline — running-maximum window over the day spine, the trough is
    the argmax of (peak − value) with earliest-day tiebreak, and the
    peak day is the first day that attained that running maximum. The
    standard risk/health summary for any business or portfolio series
    (complements events_cusum_changepoint, which localizes mean SHIFTS
    rather than declines from highs).

    Exactness: the series is integer day-cents, the running max and
    the drawdown argmax are integer comparisons with a stated (dd
    desc, day asc) total order, and the peak-day lookup matches an
    exact integer. The windows run over the calendar-bounded spine;
    the fact table contributes one map-side-combined aggregation.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    runmax = daily.select(
        "d", "c", F.max("c").over(w).alias("peak_c")
    )
    trough = (
        runmax.orderBy((F.col("peak_c") - F.col("c")).desc(), "d")
        .limit(1)
        .select(
            F.col("d").alias("trough_day"),
            F.col("c").alias("trough_c"),
            "peak_c",
        )
    )
    peak = (
        runmax.join(F.broadcast(trough), ["peak_c"])
        .where(
            (F.col("c") == F.col("peak_c"))
            & (F.col("d") <= F.col("trough_day"))
        )
        .groupBy("peak_c", "trough_day", "trough_c")
        .agg(F.min("d").alias("peak_day"))
    )
    return peak.select(
        F.col("peak_day").cast("string").alias("peak_day"),
        F.col("trough_day").cast("string").alias("trough_day"),
        F.round(F.col("peak_c") / 100.0, 2).alias("peak_rev"),
        F.round(F.col("trough_c") / 100.0, 2).alias("trough_rev"),
        F.round((F.col("peak_c") - F.col("trough_c")) / 100.0, 2).alias(
            "max_drawdown"
        ),
        F.round(
            (F.col("peak_c") - F.col("trough_c")) * 100.0 / F.col("peak_c"),
            4,
        ).alias("dd_pct"),
    )


# --- round-5: optimal 1-D segmentation (Jenks natural breaks) --------

JENKS_BINS = 40  # price-axis pre-aggregation buckets
JENKS_K = 4      # segments
JENKS_BUCKET = 10_000.0  # o_totalprice bucket width


def _jenks_oracle() -> str:
    """Unrolled DP oracle. Every moment is an EXACT integer: counts and
    integer-cent sums (BIGINT) plus cents^2 sums (HUGEINT on DuckDB,
    DECIMAL(38,0) on Spark). Each per-interval cost emits EXACTLY ONE
    float division — double(exact_int) / double(exact_int) is correctly
    rounded by IEEE 754, hence bit-identical cross-engine — so the DP
    argmin (smallest-j tiebreak) and the emitted SSE doubles agree
    bitwise. Replaces the r06 formulation whose post-ROUND doubles at
    ~2.4e12 flipped on a cross-engine ULP (driver red row)."""
    parts = [
        f"""b AS MATERIALIZED (
            SELECT CAST(FLOOR(o_totalprice / {JENKS_BUCKET}) AS BIGINT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS w,
                   CAST(SUM(y) AS BIGINT) AS s,
                   SUM(y * y) AS ss
            FROM (SELECT o_totalprice,
                         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
                  FROM orders
                  WHERE o_totalprice < {JENKS_BINS} * {JENKS_BUCKET})
            GROUP BY 1)""",
        """p AS MATERIALIZED (
            SELECT bin, ROW_NUMBER() OVER (ORDER BY bin) AS i,
                   CAST(SUM(w)  OVER (ORDER BY bin) AS BIGINT) AS cw,
                   CAST(SUM(s)  OVER (ORDER BY bin) AS BIGINT) AS cs,
                   SUM(ss) OVER (ORDER BY bin) AS css
            FROM b)""",
        """cost AS MATERIALIZED (
            SELECT j, i,
                   CAST(dss * dw - CAST(ds AS HUGEINT) * ds AS DOUBLE)
                   / CAST(dw * 10000 AS DOUBLE) AS c
            FROM (
                SELECT lo.i AS j, hi.i AS i,
                       hi.cw - COALESCE(pl.cw, 0) AS dw,
                       hi.cs - COALESCE(pl.cs, 0) AS ds,
                       hi.css - COALESCE(pl.css, 0) AS dss
                FROM p hi
                JOIN p lo ON lo.i <= hi.i
                LEFT JOIN p pl ON pl.i = lo.i - 1))""",
        """dp1 AS MATERIALIZED (
            SELECT i, c AS cost, 0 AS j FROM cost WHERE j = 1)""",
    ]
    for k in range(2, JENKS_K + 1):
        parts.append(f"""dp{k} AS MATERIALIZED (
            SELECT i, cost, j FROM (
                SELECT c.i, d.cost + c.c AS cost, c.j - 1 AS j,
                       ROW_NUMBER() OVER (PARTITION BY c.i
                           ORDER BY d.cost + c.c, c.j) AS rn
                FROM cost c JOIN dp{k - 1} d ON d.i = c.j - 1)
            WHERE rn = 1)""")
    n = f"(SELECT MAX(i) FROM p)"
    # backtrack: e_K = n, e_{k-1} = split(dp_k, e_k)
    ends = [f"e{JENKS_K} AS (SELECT {n} AS i)"]
    for k in range(JENKS_K, 1, -1):
        ends.append(
            f"e{k - 1} AS (SELECT d.j AS i FROM dp{k} d, e{k} WHERE d.i = e{k}.i)"
        )
    parts.extend(ends)
    seg_selects = []
    for k in range(1, JENKS_K + 1):
        lo = f"(SELECT i FROM e{k - 1}) + 1" if k > 1 else "1"
        seg_selects.append(f"""
            SELECT {k} AS segment,
                   (SELECT bin FROM p WHERE i = {lo}) AS lo_bin,
                   (SELECT bin FROM p WHERE i = (SELECT i FROM e{k})) AS hi_bin""")
    return (
        "WITH " + ",\n".join(parts)
        + f""",
        segs AS ({' UNION ALL '.join(seg_selects)})
        SELECT s.segment, s.lo_bin, s.hi_bin,
               CAST(SUM(b.w) AS BIGINT) AS n,
               CAST(SUM(b.ss) * SUM(b.w) - SUM(b.s) * SUM(b.s) AS DOUBLE)
               / CAST(SUM(b.w) * 10000 AS DOUBLE) AS sse,
               (SELECT cost FROM dp{JENKS_K}
                WHERE i = {n}) AS total_sse
        FROM segs s JOIN b ON b.bin BETWEEN s.lo_bin AND s.hi_bin
        GROUP BY s.segment, s.lo_bin, s.hi_bin"""
    )


@query(
    "analytics_jenks_breaks",
    oracle=_jenks_oracle(),
    tags=("analytics", "segmentation", "dp", "orders"),
)
def analytics_jenks_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jenks natural breaks — the EXACT optimal 1-D k-segmentation
    (Fisher's dynamic program minimizing within-segment SSE) over the
    order-price axis, the principled alternative to eyeballed price
    bands (``join_range_bands``) and equal-width histograms. The corpus
    collapses map-side to ≤40 weighted bins; the DP then runs on
    the dimension-sized prefix-sum frame as 4 unrolled min-plus
    layers (each one join + one argmin window — never a driver loop),
    and the boundary backtrack is 4 one-row joins. Cross-engine
    exact: every moment is an EXACT integer (counts + integer-cent
    sums in BIGINT, cents² sums in DECIMAL(38,0) mirroring DuckDB's
    HUGEINT promotion) and each cost/SSE cell emits exactly ONE float
    division — double(exact)/double(exact) is IEEE correctly rounded,
    hence bit-identical cross-engine — so the argmin with its
    smallest-j tiebreak picks the same splits and the driver's typed
    hash matches (house idiom from stats_ipw_ate / stats_hodges_
    lehmann; replaces the r06 double-sum form that flipped on an ULP
    at ~2.4e12). Output: each segment's bin range, population, SSE,
    and the DP's optimal total."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") < JENKS_BINS * JENKS_BUCKET
    )
    y = F.round(F.col("o_totalprice") * 100).cast("bigint")
    b = o.groupBy(
        F.floor(F.col("o_totalprice") / JENKS_BUCKET).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum(y).cast("bigint").alias("s"),
        # cents² fits int64 per row (< 1.6e15) but not summed at scale:
        # exact 128-bit-wide decimal sum = DuckDB's HUGEINT promotion
        F.sum((y * y).cast("decimal(38,0)")).alias("ss"),
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    p = b.select(
        "bin",
        "w",
        "s",
        "ss",
        F.row_number().over(Window.orderBy("bin")).alias("i"),
        F.sum("w").over(wcum).cast("bigint").alias("cw"),
        F.sum("s").over(wcum).cast("bigint").alias("cs"),
        F.sum("ss").over(wcum).cast("decimal(38,0)").alias("css"),
    ).localCheckpoint(eager=True)
    hi, lo, pl = p.alias("hi"), p.alias("lo"), p.alias("pl")
    dw = F.col("hi.cw") - F.coalesce(F.col("pl.cw"), F.lit(0))
    ds = F.col("hi.cs") - F.coalesce(F.col("pl.cs"), F.lit(0))
    dss = F.col("hi.css") - F.coalesce(
        F.col("pl.css"), F.lit(0).cast("decimal(38,0)")
    )
    num = dss * dw.cast("decimal(19,0)") - ds.cast("decimal(19,0)") * ds.cast(
        "decimal(19,0)"
    )
    cost = (
        hi.join(lo, F.col("lo.i") <= F.col("hi.i"))
        .join(pl, F.col("pl.i") == F.col("lo.i") - 1, "left")
        .select(
            F.col("lo.i").alias("j"),
            F.col("hi.i").alias("i"),
            (
                num.cast("double") / (dw * 10000).cast("double")
            ).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    # ONE dimension-sized collect for the bin map AND n_i (r10 — was a
    # separate max(i) job plus a second p collect)
    idx2bin = {r["i"]: r["bin"] for r in p.select("i", "bin").collect()}
    n_i = max(idx2bin)
    # DP layers (each ≤ JENKS_BINS rows). The backtrack chain rides an
    # accumulated `path` array (argmin per layer appends its chosen
    # previous-segment end), so the whole 4-layer min-plus recursion is
    # ONE lazy plan over the checkpointed cost frame with ONE final
    # 1-row collect — r10: was an eager localCheckpoint + a collect per
    # layer (7 extra driver-blocking jobs). Per-layer argmin keeps the
    # identical (cost, j) ordering, so the chosen splits and every
    # accumulated double are bit-identical.
    dp_l = cost.filter(F.col("j") == 1).select(
        "i",
        F.col("c").alias("cost"),
        F.lit(0).alias("j"),
        F.array().cast("array<bigint>").alias("path"),
    )
    for k in range(2, JENKS_K + 1):
        prev = dp_l.select(
            F.col("i").alias("pi"),
            F.col("cost").alias("pcost"),
            F.col("path").alias("ppath"),
        )
        wmin = Window.partitionBy("i").orderBy(F.col("cost"), F.col("j"))
        dp_l = (
            cost.join(prev, F.col("pi") == F.col("j") - 1)
            .select(
                "i",
                (F.col("pcost") + F.col("c")).alias("cost"),
                (F.col("j") - 1).alias("j"),
                F.concat(
                    "ppath", F.array((F.col("j") - 1).cast("bigint"))
                ).alias("path"),
            )
            .select("*", F.row_number().over(wmin).alias("rn"))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
    final = dp_l.filter(F.col("i") == n_i).collect()[0]
    total_sse = final["cost"]
    bounds = [int(e) for e in final["path"]] + [n_i]  # [e1, ..., eK=n]
    seg_rows = []
    prev_end = 0
    for k, e in enumerate(bounds, start=1):
        seg_rows.append((k, idx2bin[prev_end + 1], idx2bin[e]))
        prev_end = e
    segs = spark.createDataFrame(
        seg_rows, "segment int, lo_bin long, hi_bin long"
    )
    return (
        # join against the CHECKPOINTED prefix frame p (r10): joining b
        # here re-ran the whole orders scan + bin aggregate a second
        # time; p carries the same (bin, w, s, ss) rows, materialized
        segs.join(
            p, (F.col("bin") >= F.col("lo_bin")) & (F.col("bin") <= F.col("hi_bin"))
        )
        .groupBy("segment", "lo_bin", "hi_bin")
        .agg(
            F.sum("w").cast("bigint").alias("n"),
            (
                (
                    F.sum("ss") * F.sum("w").cast("decimal(19,0)")
                    - F.sum("s").cast("decimal(19,0)")
                    * F.sum("s").cast("decimal(19,0)")
                ).cast("double")
                / (F.sum("w") * 10000).cast("double")
            ).alias("sse"),
        )
        .select("*", F.lit(total_sse).alias("total_sse"))
    )


# ---------------------------------------------------------------------------
# session: gap-sessionized duration deciles via exact order statistics
# ---------------------------------------------------------------------------

SESSION_GAP_S = 1800  # 30 min, the house sessionization gap


@query(
    "events_session_duration_deciles",
    oracle=f"""
        WITH x AS (
            SELECT user_id, event_id, epoch_us(ts) AS t,
                   CASE WHEN epoch_us(ts)
                             - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id)
                             > {SESSION_GAP_S * 1000000}
                        OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                           IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        s AS (
            SELECT user_id, t,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY t, event_id
                                    ROWS UNBOUNDED PRECEDING)
                       AS session_no
            FROM x
        ),
        durs AS (
            SELECT user_id, session_no,
                   (MAX(t) - MIN(t)) // 1000000 AS dur_s
            FROM s GROUP BY user_id, session_no
        ),
        ranked AS (
            SELECT dur_s,
                   ROW_NUMBER() OVER (ORDER BY dur_s) AS rk,
                   COUNT(*) OVER () AS n
            FROM durs
        )
        SELECT CAST(d.dec AS BIGINT) AS decile,
               CAST(MAX(CASE WHEN rk = CAST(CEIL(n * d.dec / 10.0) AS BIGINT)
                             THEN dur_s END) AS BIGINT) AS dur_s
        FROM ranked, (SELECT UNNEST(range(1, 10)) AS dec) d
        GROUP BY d.dec
    """,
    tags=("events", "session", "window", "robust"),
)
def events_session_duration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-DURATION DECILES under the house 30-min-gap
    sessionization (``events_session_gap_stats``, certified r06
    retry): gap flag → running-sum session ids → per-session duration
    in whole seconds → the d1..d9 decile table read by EXACT order
    statistic (value at rank ⌈n·q⌉ — type-1 quantile, integer in,
    integer out, no interpolation, bit-stable by construction). The
    oracle states the textbook global ROW_NUMBER; the engine reads
    each rank off the DURATION-VALUE LEDGER instead (r11 — the former
    rank window moved every session row into one task): durations are
    whole seconds, so grouping by value gives a ledger bounded by the
    CLOCK (max session length in seconds), not by data; one
    ledger-sized cumulative window locates the unique value whose
    [cum_before, cum_before+cnt) span contains each rank. Value at
    rank is tie-invariant, so the ledger read equals the oracle's
    ROW_NUMBER pick exactly. Output = 9 rows."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.when(
            F.lag(F.unix_micros("ts")).over(wo).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wo)
                > SESSION_GAP_S * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = x.select("user_id", "t", F.sum("new_s").over(ws).alias("session_no"))
    durs = s.groupBy("user_id", "session_no").agg(
        ((F.max("t") - F.min("t")) / 1_000_000).cast("bigint").alias("dur_s")
    )
    led = durs.groupBy("dur_s").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("dur_s").rowsBetween(Window.unboundedPreceding, -1)
    led = led.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
    )
    tot = led.agg(F.sum("cnt").alias("n"))
    ranks = (
        spark.range(1, 10)
        .select(F.col("id").alias("dec"))
        .crossJoin(F.broadcast(tot))
        .select(
            "dec",
            F.ceil(F.col("n") * F.col("dec") / 10.0).cast("bigint").alias("rk"),
        )
    )
    return (
        ranks.join(
            F.broadcast(led),
            (F.col("rk") > F.col("cum_before"))
            & (F.col("rk") <= F.col("cum_before") + F.col("cnt")),
        )
        .groupBy(F.col("dec").cast("bigint").alias("decile"))
        .agg(F.max("dur_s").cast("bigint").alias("dur_s"))
    )


# ---------------------------------------------------------------------------
# session: bounce rate by entry event type
# ---------------------------------------------------------------------------


@query(
    "events_session_bounce_rate",
    oracle="""
        WITH x AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
                   CASE WHEN epoch_us(ts)
                             - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                       ORDER BY ts, event_id)
                             > 1800000000
                        OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                           IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        s AS (
            SELECT user_id, event_id, event_type, t,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY t, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
            FROM x
        ),
        r2 AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_no
                                         ORDER BY t, event_id) AS rn2
            FROM s
        ),
        sess AS (
            SELECT user_id, session_no,
                   CAST(COUNT(*) AS BIGINT) AS depth,
                   MAX(CASE WHEN rn2 = 1 THEN event_type END) AS entry_type
            FROM r2 GROUP BY user_id, session_no
        )
        SELECT entry_type,
               CAST(COUNT(*) AS BIGINT)                    AS n_sessions,
               CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS n_bounces,
               ROUND(CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6)        AS bounce_rate
        FROM sess GROUP BY entry_type
    """,
    tags=("events", "session", "window"),
)
def events_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNCE RATE by session ENTRY TYPE: gap-sessionize (the house
    30-min rule), find each session's first event type (min over the
    (t, event_id) order — deterministic), and report how often a
    session of that entry type ends after ONE event — the
    landing-quality metric (duration side:
    ``events_session_duration_deciles``; funnel:
    ``events_session_funnel`` stock). All counts exact integers, one
    division per row; sessionization is the standard one-shuffle
    window pass."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    x = e.select(
        "user_id", "event_id", "event_type", t.alias("t"),
        F.when(
            F.lag(t).over(wo).isNull() | (t - F.lag(t).over(wo) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = x.select(
        "user_id", "event_id", "event_type", "t",
        F.sum("new_s").over(ws).alias("session_no"),
    )
    sess = s.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("depth"),
        F.min(F.struct("t", "event_id", "event_type"))
        .getField("event_type")
        .alias("entry_type"),
    )
    bounce = F.sum(F.when(F.col("depth") == 1, 1).otherwise(0))
    return sess.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        F.round(bounce.cast("double") / F.count(F.lit(1)), 6).alias(
            "bounce_rate"
        ),
    )


# ---------------------------------------------------------------------------
# window-time: tumbling windows via the window() table function
# ---------------------------------------------------------------------------

TUMBLE_HOURS = 6


@query(
    "events_tumbling_window_fn",
    oracle=f"""
        WITH x AS (
            -- integer micros, never epoch()'s fractional-second DOUBLE
            SELECT to_timestamp((epoch_us(ts)
                                 // {TUMBLE_HOURS * 3_600_000_000})
                                * {TUMBLE_HOURS * 3600}) AS wstart,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
               CAST(COUNT(*) AS BIGINT)              AS n_events,
               CAST(SUM(cents) AS BIGINT)            AS sum_cents
        FROM x GROUP BY wstart
    """,
    tags=("events", "window-time", "aggregate"),
)
def events_tumbling_window_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUMBLING event-time windows via Spark's native ``window()``
    table function (epoch-aligned 6-hour buckets — the same operator
    Structured Streaming uses for watermarked aggregation, here on a
    batch frame), while the oracle restates the bucketing as integer
    epoch floor-division — two formulations of the window boundary
    contract, which is exactly what goes wrong first in event-time
    pipelines (off-by-one at bucket edges). Exact integer cents; one
    shuffle keyed by window. At 100 TB this is the pre-aggregation
    every event table gets before rollup (calendar-anchored sibling:
    ``window_rolling_time_stats`` r08; streaming form:
    ``streaming/events.py``)."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", f"{TUMBLE_HOURS} hours")
    return (
        e.select(w.alias("w"), F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .groupBy(F.col("w.start").alias("wstart"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "sum_cents",
        )
    )


# ---------------------------------------------------------------------------
# session: first-touch attribution
# ---------------------------------------------------------------------------

FT_GAP_S = 21_600  # 6 h inactivity closes a session (house convention)


@query(
    "events_session_first_touch",
    oracle=f"""
        WITH x AS (
            SELECT user_id, event_id, ts, event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   CASE WHEN epoch_us(ts)
                             - LAG(epoch_us(ts)) OVER (
                                   PARTITION BY user_id
                                   ORDER BY ts, event_id)
                             > {FT_GAP_S * 1_000_000}
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        s AS (
            SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                           AS BIGINT) AS sid
            FROM x
        ),
        firsts AS (
            SELECT user_id, sid, event_type AS first_type
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn FROM s)
            WHERE rn = 1
        ),
        sums AS (
            SELECT user_id, sid,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN cents ELSE 0 END) AS BIGINT)
                       AS purchase_cents
            FROM s GROUP BY user_id, sid
        ),
        per_session AS (
            SELECT f.user_id, f.sid, f.first_type, m.purchase_cents
            FROM firsts f JOIN sums m USING (user_id, sid)
        )
        SELECT first_type,
               CAST(COUNT(*) AS BIGINT)          AS n_sessions,
               CAST(SUM(purchase_cents) AS BIGINT) AS attributed_cents,
               CAST(SUM(CASE WHEN purchase_cents > 0 THEN 1 ELSE 0 END)
                    AS BIGINT)                   AS n_converting
        FROM per_session GROUP BY first_type
    """,
    tags=("events", "session", "window"),
)
def events_session_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-TOUCH ATTRIBUTION: sessionize by the 6 h inactivity gap
    (the house gap-islands idiom — LAG mark, running-sum session id,
    both windows carrying the (ts, event_id) unique tiebreak), then
    credit each session's purchase value to the event type that OPENED
    the session — the simplest of the marketing attribution models
    (the funnel and transition-matrix siblings slice the same
    sessions differently). The session opener is a ranked-first
    selection over (ts, event_id) on the oracle side vs a ``min_by``
    struct aggregate on the Spark side — independent spellings of one
    deterministic selection. Exact integer cents end-to-end. One shuffle keyed by
    user, one by session, one |event-types|-row rollup."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    x = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.when(
            F.lag("ts").over(w).isNull()
            | ((us - F.lag(us).over(w)) > FT_GAP_S * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = x.select("*", F.sum("new_s").over(wc).cast("bigint").alias("sid"))
    per_session = s.groupBy("user_id", "sid").agg(
        F.min_by(
            "event_type", F.struct("ts", "event_id")
        ).alias("first_type"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("purchase_cents"),
    )
    return per_session.groupBy("first_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("purchase_cents").cast("bigint").alias("attributed_cents"),
        F.sum(F.when(F.col("purchase_cents") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_converting"),
    )


# ---------------------------------------------------------------------------
# session: inter-event gap coefficient of variation per session
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000


@query(
    "events_session_gap_cv",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_id, ts,
                   epoch_us(ts) AS us,
                   LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
            FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, us,
                   CASE WHEN prev_us IS NULL
                             OR us - prev_us > {SESSION_GAP_US}
                        THEN 1 ELSE 0 END AS new_s
            FROM seq
        ),
        sess AS (
            SELECT user_id, event_id, us,
                   CAST(SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
            FROM flagged
        ),
        gaps AS (
            SELECT user_id, sess_idx,
                   us - LAG(us) OVER (
                       PARTITION BY user_id, sess_idx
                       ORDER BY us, event_id) AS g
            FROM sess
        ),
        m AS (
            SELECT user_id, sess_idx,
                   CAST(COUNT(g) AS BIGINT) AS n_gaps,
                   CAST(SUM(g) AS BIGINT) AS sg,
                   SUM(CAST(g AS HUGEINT) * g) AS sgg
            FROM gaps GROUP BY user_id, sess_idx
        )
        SELECT user_id, sess_idx, n_gaps, sg AS total_gap_us,
               CASE WHEN sg > 0
                    THEN ROUND(SQRT(GREATEST(
                              CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                              - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE), 0.0))
                          / CAST(sg AS DOUBLE), 6) + 0
                    ELSE NULL END AS gap_cv
        FROM m WHERE n_gaps >= 2
    """,
    tags=("events", "session", "window-time", "window"),
)
def events_session_gap_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-EVENT GAP burstiness per session: the coefficient of
    variation √(n·Σg² − (Σg)²)/Σg of the within-session gaps (the
    population CV off exact integer moments in one radical — CV≈0 is
    metronomic bot cadence, CV≫1 is bursty human reading; the
    level sibling is ``events_session_gap_stats``). Sessions are the
    house 30-minute-gap rule with the (ts, event_id) tiebreak on BOTH
    engines; Σg stays int64 (gaps ≤ 30 min), but Σg² does NOT
    (one 30-min gap squared is 3.2e18 — a third of int64 range), so
    the square accumulates in DECIMAL(38,0)/HUGEINT — the r09-advice
    wrap class caught at design time. GREATEST(…, 0) absorbs the
    equal-gaps catastrophic cancellation (a tiny negative under
    float rounding must not feed SQRT); an all-zero-gap session
    (every event at one timestamp) degrades to NULL via the sg > 0
    CASE on BOTH engines — never an engine-specific 0/0 (the r09
    log-zero advice class, guarded at design time). Only ≥3-event
    sessions emit.
    100 TB: one shuffle on user_id reused by every window; the
    moment aggregate map-side combines."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_id", "ts", us.alias("us")).withColumn(
        "prev_us", F.lag("us").over(wseq)
    )
    flagged = seq.withColumn(
        "new_s",
        F.when(
            F.col("prev_us").isNull()
            | ((F.col("us") - F.col("prev_us")) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn(
        "sess_idx", F.sum("new_s").over(wcum).cast("bigint")
    )
    wg = Window.partitionBy("user_id", "sess_idx").orderBy("us", "event_id")
    gaps = sess.withColumn("g", F.col("us") - F.lag("us").over(wg))
    m = gaps.groupBy("user_id", "sess_idx").agg(
        F.count("g").cast("bigint").alias("n_gaps"),
        F.sum("g").cast("bigint").alias("sg"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g")).alias("sgg"),
    )
    cv = F.sqrt(
        F.greatest(
            F.col("n_gaps").cast("double") * F.col("sgg").cast("double")
            - F.col("sg").cast("double") * F.col("sg").cast("double"),
            F.lit(0.0),
        )
    ) / F.col("sg").cast("double")
    return m.filter(F.col("n_gaps") >= 2).select(
        "user_id",
        "sess_idx",
        "n_gaps",
        F.col("sg").alias("total_gap_us"),
        F.when(F.col("sg") > 0, F.round(cv, 6)).alias("gap_cv"),
    )
