"""Advanced operator exemplars: as-of join, map-type functions, multiset
ops, Python UDTF, pandas UDAF (GROUPED_AGG), grouped applyInPandas, file
sinks, and partition-local sort.

These close the SURVEY.md §2.B gaps the core modules don't cover. The
reference has no analog for any of them (its only join is the nested-loop
interval join at ``/root/reference/src/voice_classifier.py:126-134``);
each is the idiomatic Spark construction of a capability the driver's
table set exercises.

Scale notes:
* The as-of join uses the union + ordered-window carry-forward pattern —
  one shuffle on the key, no row explosion. The naive alternative
  (non-equi join then keep latest) multiplies rows before pruning and
  dies at 100 TB when a hot key has millions of matches.
* The pandas UDAF / applyInPandas exemplars keep Python off the hot path
  for everything except the per-group kernel; Arrow batches both ways.
* Sinks write partitioned parquet — at scale, `partitionBy` on a
  low-cardinality column gives partition pruning to every downstream
  reader. `sortWithinPartitions` feeds parquet row-group locality
  without a global sort's range-exchange.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

from big_data_audio_classification_spark.scratch import SCRATCH_DIR as _SCRATCH


# --------------------------------------------------------------------------
# As-of (time-ordered) join: for each purchase event, the latest click by
# the same user at-or-before the purchase timestamp.
# --------------------------------------------------------------------------
@query(
    "join_asof_purchase_click",
    oracle="""
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS click_id, user_id, ts
                   FROM events WHERE event_type = 'click'),
             j AS (SELECT p.purchase_id, p.user_id, c.click_id,
                          c.ts AS click_ts,
                          ROW_NUMBER() OVER (
                              PARTITION BY p.purchase_id
                              ORDER BY c.ts DESC, c.click_id DESC) AS rn
                   FROM p LEFT JOIN c
                     ON c.user_id = p.user_id AND c.ts <= p.ts)
        SELECT purchase_id, user_id, click_id,
               CAST(click_ts AS VARCHAR) AS click_ts
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof"),
)
def join_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left as-of join via union + ordered-window carry-forward.

    Tag both streams, union them, and carry the last-seen click forward
    within each user's timeline; rows tagged as purchases then hold the
    as-of match. One shuffle (partitionBy user), zero row explosion —
    the scalable form of what DuckDB spells ``ASOF JOIN``. Ties at equal
    ts sort clicks first (``<=`` semantics) then by event_id.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_click"),
        F.col("event_id").alias("click_id_src"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_click"),
        F.lit(None).cast("long").alias("click_id_src"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc(), F.col("click_id_src").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "purchase_id",
        "user_id",
        F.last("click_id_src", ignorenulls=True).over(w).alias("click_id"),
        F.last(F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True)
        .over(w)
        .cast("string")
        .alias("click_ts"),
        "is_click",
    )
    return carried.filter(F.col("is_click") == 0).select(
        "purchase_id", "user_id", "click_id", "click_ts"
    )


# --------------------------------------------------------------------------
# Map-type functions over events.props JSON.
# --------------------------------------------------------------------------
@query(
    "scalar_map_functions",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT)     AS k_value,
               CAST(LEN(json_keys(props)) AS INT)                    AS n_keys,
               ARRAY_TO_STRING(LIST_SORT(json_keys(props)), ',')     AS keys_sorted
        FROM events
    """,
    tags=("scalar", "map", "events"),
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: from_json → map, element_at, map_keys, size."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").cast("long").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


# --------------------------------------------------------------------------
# Multiset set-ops + union-by-name.
# --------------------------------------------------------------------------
@query(
    "set_intersectall_flags",
    oracle="""
        SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= 25
        INTERSECT ALL
        SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_discount > 0.03
    """,
    tags=("relational", "setop"),
)
def set_intersectall_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiplicity-preserving intersection."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") <= 25).select("l_returnflag", "l_linestatus")
    b = li.filter(F.col("l_discount") > 0.03).select("l_returnflag", "l_linestatus")
    return a.intersectAll(b)


@query(
    "set_exceptall_flags",
    oracle="""
        SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= 25
        EXCEPT ALL
        SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= 10
    """,
    tags=("relational", "setop"),
)
def set_exceptall_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiplicity-preserving difference (per-value count
    in the result = count(a) − count(b), here strictly positive)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") <= 25).select("l_returnflag", "l_linestatus")
    b = li.filter(F.col("l_quantity") <= 10).select("l_returnflag", "l_linestatus")
    return a.exceptAll(b)


@query(
    "set_union_by_name",
    oracle="""
        SELECT c_custkey AS acct_key, c_acctbal AS balance, 'customer' AS side
        FROM customer WHERE c_acctbal > 9000
        UNION ALL BY NAME
        SELECT 'supplier' AS side, s_acctbal AS balance, s_suppkey AS acct_key
        FROM supplier WHERE s_acctbal > 9000
    """,
    tags=("relational", "setop"),
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName — position-independent union of differently-ordered
    projections."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    a = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("acct_key"),
        F.col("c_acctbal").alias("balance"),
        F.lit("customer").alias("side"),
    )
    b = s.filter(F.col("s_acctbal") > 9000).select(
        F.lit("supplier").alias("side"),
        F.col("s_acctbal").alias("balance"),
        F.col("s_suppkey").alias("acct_key"),
    )
    return a.unionByName(b)


# --------------------------------------------------------------------------
# Python UDTF (Spark ≥3.5): lateral table function splitting documents
# into (pos, word) rows.
# --------------------------------------------------------------------------
@query(
    "udtf_split_words",
    oracle="""
        SELECT doc_id,
               UNNEST(string_split(text, ' '))                       AS word,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS INT) AS pos
        FROM documents
        WHERE doc_id < 50
    """,
    tags=("udtf", "text", "documents"),
)
def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join — one input row fans out to N rows.

    Splits on single spaces (same semantics as DuckDB ``string_split``:
    empty tokens preserved). At scale a UDTF runs Arrow-batched per
    partition; for pure splitting prefer built-in posexplode(split()) —
    this exemplar exists to exercise the UDTF surface itself.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos int")
    class SplitWords:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(text.split(" ")):
                yield w, i + 1

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    ).createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, s.word, s.pos
        FROM udtf_docs_in d, LATERAL split_words(d.text) s
        """
    )


# --------------------------------------------------------------------------
# Pandas UDAF (GROUPED_AGG): quantity-weighted average price per flag.
# --------------------------------------------------------------------------
@query(
    "agg_pandas_udaf_weighted",
    oracle="""
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
                   AS weighted_avg_price
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("aggregate", "udaf", "pandas"),
)
def agg_pandas_udaf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — a custom aggregate with map-side Arrow
    batching. (Expressible as SUM/SUM built-ins; registered to exercise
    the UDAF surface.)"""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(weighted_avg("l_extendedprice", "l_quantity"), 4).alias(
                "weighted_avg_price"
            )
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Grouped applyInPandas: per-group z-score (population stddev).
# --------------------------------------------------------------------------
@query(
    "grouped_zscore_applyinpandas",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               ROUND((o_totalprice - AVG(o_totalprice) OVER w)
                     / STDDEV_POP(o_totalprice) OVER w, 4) AS zscore
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus)
    """,
    tags=("udaf", "pandas", "grouped-map"),
)
def grouped_zscore_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: whole-group pandas kernel per key.

    NOTE: o_orderstatus has 3 values → 3 fat groups; fine here, but at
    100 TB a grouped-map needs high-cardinality keys (or a window
    function, which this one should be — see the oracle). Registered to
    exercise the applyInPandas surface.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["o_totalprice"].mean()
        sd = pdf["o_totalprice"].std(ddof=0)
        pdf = pdf.assign(zscore=((pdf["o_totalprice"] - mu) / sd).round(4))
        return pdf[["o_orderkey", "o_orderstatus", "zscore"]]

    return o.groupBy("o_orderstatus").applyInPandas(
        zscore, schema="o_orderkey long, o_orderstatus string, zscore double"
    )


# --------------------------------------------------------------------------
# File sinks: partitioned parquet round-trip, CSV round-trip.
# --------------------------------------------------------------------------
@query(
    "sink_parquet_partitioned_roundtrip",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
        FROM lineitem
        WHERE l_quantity > 30
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("sink", "parquet"),
)
def sink_parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write `partitionBy(l_returnflag)` parquet, read it back, aggregate.

    The read-back scan gets partition pruning on l_returnflag for free —
    the layout every 100 TB fact table should have on its hottest
    filter column.
    """
    path = os.path.join(_SCRATCH, "sink_parquet_roundtrip")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30)
    li.select(
        "l_returnflag", "l_linestatus", "l_quantity"
    ).write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@query(
    "sink_csv_roundtrip",
    oracle="""
        SELECT r_regionkey, r_name FROM region
    """,
    tags=("sink", "csv"),
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header CSV sink + schema-declared CSV scan (R8/R16)."""
    path = os.path.join(_SCRATCH, "sink_csv_roundtrip")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    r.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.csv(
        path, header=True, schema="r_regionkey long, r_name string"
    )


# --------------------------------------------------------------------------
# Partition-local sort: repartition by key + sortWithinPartitions.
# --------------------------------------------------------------------------
@query(
    "repartition_sortwithin",
    oracle="""
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS VARCHAR) AS od
        FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("relational", "sort", "partitioning"),
)
def repartition_sortwithin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition(key) + sortWithinPartitions — cluster-and-sort layout
    without a global range exchange. Content equals the plain select
    (the oracle compares order-insensitively); the point is the physical
    layout: co-located keys, locally time-sorted — the write-side prep
    for bucketed tables and merge-friendly parquet.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        o.repartition(8, "o_custkey")
        .sortWithinPartitions("o_custkey", "o_orderdate")
        .select(
            "o_orderkey", "o_custkey", F.col("o_orderdate").cast("string").alias("od")
        )
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("sink", "orc"),
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read-back → aggregate. ORC is Spark's second built-in
    columnar format (vectorized reader, predicate pushdown, striping —
    same scan-level guarantees the parquet path gets); the roundtrip
    proves format interchange without external packages. The read-back
    filter reaches the ORC scan as a pushed predicate."""
    path = os.path.join(_SCRATCH, "sink_orc_roundtrip")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("o_orderstatus") == "F")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


ASOF_TOL_MIN = 10  # as-of lookback tolerance (minutes)


@query(
    "join_asof_tolerance",
    oracle=f"""
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS click_id, user_id, ts
                   FROM events WHERE event_type = 'click'),
             j AS (SELECT p.purchase_id, p.user_id, c.click_id,
                          c.ts AS click_ts,
                          ROW_NUMBER() OVER (
                              PARTITION BY p.purchase_id
                              ORDER BY c.ts DESC, c.click_id DESC) AS rn
                   FROM p LEFT JOIN c
                     ON c.user_id = p.user_id AND c.ts <= p.ts
                    AND c.ts >= p.ts - INTERVAL {ASOF_TOL_MIN} MINUTES)
        SELECT purchase_id, user_id, click_id,
               CAST(click_ts AS VARCHAR) AS click_ts
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "tolerance"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas ``merge_asof(tolerance=...)``
    semantics): the most recent click at or before each purchase, but
    only if it happened within the last 10 minutes — older matches
    become NULL. Same union + carry-forward plan as
    ``join_asof_purchase_click`` (one shuffle, no explosion) plus a
    map-side staleness filter on the carried timestamp; the quadratic
    join-then-prune alternative never appears."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_click"),
        F.col("event_id").alias("click_id_src"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_click"),
        F.lit(None).cast("long").alias("click_id_src"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(), F.col("is_click").desc(), F.col("click_id_src").asc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "purchase_id",
        "user_id",
        "ts",
        F.last("click_id_src", ignorenulls=True).over(w).alias("click_id_raw"),
        F.last(F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts_raw"),
        "is_click",
    )
    fresh = F.col("click_ts_raw") >= F.col("ts") - F.expr(
        f"INTERVAL {ASOF_TOL_MIN} MINUTES"
    )
    return carried.filter(F.col("is_click") == 0).select(
        "purchase_id",
        "user_id",
        F.when(fresh, F.col("click_id_raw")).alias("click_id"),
        F.when(fresh, F.col("click_ts_raw")).cast("string").alias("click_ts"),
    )


# --------------------------------------------------------------------------
# Polymorphic Python UDTF (Spark 4): output schema computed by analyze()
# from a constant argument — the dynamic-schema half of the UDTF surface.
# --------------------------------------------------------------------------
NGRAM_N = 3        # constant argument the UDTF's analyze() consumes
NGRAM_TOPN = 20


@query(
    "udtf_analyze_ngrams",
    oracle=f"""
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ),
        g AS (
            SELECT l[i + 1] AS g1, l[i + 2] AS g2, l[i + 3] AS g3
            FROM toks, UNNEST(range(len(l) - {NGRAM_N - 1})) AS t(i)
            WHERE len(l) >= {NGRAM_N}
        )
        SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM g
        GROUP BY g1, g2, g3
        ORDER BY cnt DESC, g1, g2, g3
        LIMIT {NGRAM_TOPN}
    """,
    tags=("udtf", "analyze", "text", "documents"),
)
def udtf_analyze_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF: ``word_ngrams(text, n)`` has NO static
    returnType — its ``analyze()`` reads the constant ``n`` argument at
    plan time and emits one output column per gram position (g1..gn),
    the Spark 4 dynamic-schema UDTF contract (static-schema counterpart:
    ``udtf_split_words``). The query ranks the corpus's top trigrams.

    Scale: the UDTF runs Arrow-batched per partition (text never
    shuffles; only emitted gram rows feed the map-side-combined count),
    and the final ranking is orderBy+limit = TakeOrderedAndProject.
    Ties at the cut are broken by the full gram so the top-N set is
    deterministic cross-engine."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class WordNgrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            width = int(n.value)
            return AnalyzeResult(
                schema=StructType(
                    [StructField(f"g{i + 1}", StringType()) for i in range(width)]
                )
            )

        def eval(self, text: str, n: int):
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(len(toks) - n + 1):
                yield tuple(toks[i : i + n])

    spark.udtf.register("word_ngrams", udtf(WordNgrams))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_ngram_docs_in"
    )
    cols = ", ".join(f"g{i + 1}" for i in range(NGRAM_N))
    return spark.sql(
        f"""
        SELECT {cols}, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM udtf_ngram_docs_in d, LATERAL word_ngrams(d.text, {NGRAM_N})
        GROUP BY {cols}
        ORDER BY cnt DESC, {cols}
        LIMIT {NGRAM_TOPN}
        """
    )


# --------------------------------------------------------------------------
# UDTF with a TABLE argument (Spark 4): per-partition streaming state —
# eval() sees each partition's rows in ORDER BY order, terminate() emits
# the partition summary. The input-table half of the UDTF surface
# (constant-arg half: udtf_analyze_ngrams; static-schema: udtf_split_words).
# --------------------------------------------------------------------------
UDTF_SESSION_GAP_S = 1800  # 30 min, matches events_session_window


@query(
    "udtf_table_arg_sessions",
    oracle=f"""
        WITH x AS (
            SELECT user_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                                > {UDTF_SESSION_GAP_S} * 1000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(SUM(new_s) AS INTEGER) AS n_sessions,
               CAST(COUNT(*) AS INTEGER) AS n_events
        FROM x GROUP BY user_id
    """,
    tags=("udtf", "table-arg", "session", "events"),
)
def udtf_table_arg_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming ``TABLE(events) PARTITION BY user_id
    ORDER BY ts`` — Spark 4's per-partition stateful table-function
    contract: ``eval`` streams one user's rows in event-time order with
    O(1) state (last timestamp + counters), ``terminate`` emits the
    per-user summary row (session count at a 30-min gap, event count).
    The oracle restates sessionization as the LAG/gap-islands SQL, so
    the differential proves the partition-ordered delivery contract.

    Scale: state is O(1) per user; Spark shuffles once on the PARTITION
    BY key and sorts within partitions — the same exchange any grouped
    aggregation needs. Gap logic uses exact integer epoch MICROseconds
    on both engines (timedelta fields here, epoch_us in the oracle) so
    a gap fractionally above the threshold cannot diverge cross-engine
    the way float epoch()/truncated-seconds comparisons could; timestamp
    ties produce gap 0 regardless of intra-tie delivery order, so the
    session count is tie-order invariant."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_sessions int, n_events int")
    class Sessionizer:
        def __init__(self):
            self.user = None
            self.last_epoch = None
            self.sessions = 0
            self.events = 0

        def eval(self, row):
            import datetime as _dt

            self.user = row["user_id"]
            # naive-UTC epoch via subtraction: .timestamp() would apply
            # the worker's LOCAL zone to the naive datetime. Integer
            # microseconds from the timedelta fields — total_seconds()
            # is a float and truncating to whole seconds diverges from
            # the oracle for fractional-second gaps at the threshold.
            td = row["ts"] - _dt.datetime(1970, 1, 1)
            e = (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds
            if (
                self.last_epoch is None
                or e - self.last_epoch > UDTF_SESSION_GAP_S * 1_000_000
            ):
                self.sessions += 1
            self.last_epoch = e
            self.events += 1

        def terminate(self):
            if self.user is not None:
                yield self.user, self.sessions, self.events

    spark.udtf.register("sessionize_udtf", Sessionizer)
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_for_udtf")
    return spark.sql(
        """
        SELECT * FROM sessionize_udtf(
            TABLE(SELECT user_id, ts FROM events_for_udtf)
            PARTITION BY user_id ORDER BY ts
        )
        """
    )


@query(
    "sink_xml_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    tags=("sink", "xml", "nation"),
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML FILE source/sink (Spark 4 native spark-xml): write the
    nation table as XML row documents, scan it back with an explicit
    schema — completing the format matrix (parquet/ORC/CSV/JSONL/
    binaryFile/XML) with the one self-describing hierarchical format.
    The scalar to_xml/from_xml pair is ``scalar_xml_roundtrip``; this
    exercises the DataSource path (rowTag parsing, schema projection).

    Scale note: XML is a line-splittable-only-with-care format — Spark
    parallelizes by rowTag element, and an explicit schema avoids the
    full-corpus inference scan (same discipline as the CSV reader)."""
    path = os.path.join(_SCRATCH, "sink_xml_roundtrip")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").format("xml").option("rowTag", "nation").save(path)
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .load(path)
    )


@query(
    "sink_parquet_schema_evolution",
    oracle="""
        SELECT 1 AS b, n_nationkey, n_name,
               CAST(NULL AS BIGINT) AS n_regionkey
        FROM nation
        UNION ALL
        SELECT 2 AS b, n_nationkey, n_name, n_regionkey FROM nation
    """,
    tags=("sink", "parquet", "schema-evolution"),
)
def sink_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: batch 1 lands the nation dim WITHOUT
    ``n_regionkey``; batch 2 lands it with the new column; the scan
    reads both generations in one pass with ``mergeSchema`` — old rows
    surface the added column as NULL, and partition discovery recovers
    the batch id from the directory layout.

    This is the append-only table-evolution contract a 100 TB lake
    lives by: adding a column must not rewrite history. mergeSchema
    reconciles footers at planning time (per-file schemas union by
    name); the per-file column absence becomes a constant-NULL vector
    at scan, costing nothing at read. The oracle states the expected
    union algebraically.
    """
    path = os.path.join(_SCRATCH, "sink_schema_evolution")
    n = load_table(spark, sf_dir, "nation")
    n.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
        os.path.join(path, "b=1")
    )
    n.select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "b=2"))
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.select(
        F.col("b").cast("bigint").alias("b"),
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )


# --- round-5 carrier: first-time 'csv' window entry ------------------


@query(
    "sink_csv_options_roundtrip",
    oracle="""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT)      AS n,
               CAST(SUM(n_chars) AS BIGINT)  AS total_chars,
               CAST(SUM(length(text)) AS BIGINT) AS total_len
        FROM documents
        GROUP BY lang
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_options_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/scan with NON-DEFAULT dialect options — '|' delimiter,
    quoted fields, escaped quotes, explicit nullValue — the
    interoperability surface of R8/R16 beyond the plain header CSV
    (``sink_csv_roundtrip``). Free text rides through the quoting
    layer; the oracle computes the same aggregate straight from the
    parquet, so the gate proves the dialect round-trips losslessly.
    Scale: CSV write/read is partition-parallel; the aggregate is one
    keyed shuffle."""
    path = os.path.join(_SCRATCH, "sink_csv_options_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("sep", "|")
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "\\N")
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        sep="|",
        quote='"',
        escape='"',
        nullValue="\\N",
        schema="doc_id long, lang string, text string, n_chars long",
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_len"),
    )


# --- round-6 carriers: first-time 'udtf' and 'csv'/'sink' entries ------

RLE_DOC_CAP = 200  # run-length exemplar cap (docs are template-heavy)


@query(
    "udtf_run_length_tokens",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(string_split(text, ' ')) AS tok,
                   CAST(generate_subscripts(string_split(text, ' '), 1)
                        AS BIGINT) AS pos
            FROM documents WHERE doc_id < {RLE_DOC_CAP}
        ),
        marked AS (
            SELECT doc_id, tok, pos,
                   CASE WHEN LAG(tok) OVER (PARTITION BY doc_id
                                            ORDER BY pos) = tok
                        THEN 0 ELSE 1 END AS is_start
            FROM toks
        ),
        runs AS (
            SELECT doc_id, tok, pos,
                   SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS run_id
            FROM marked
        )
        SELECT doc_id, tok,
               CAST(MIN(pos) AS BIGINT)  AS start_pos,
               CAST(COUNT(*) AS BIGINT)  AS run_len
        FROM runs GROUP BY doc_id, tok, run_id
        HAVING COUNT(*) >= 2
    """,
    tags=("udtf", "text", "documents"),
)
def udtf_run_length_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoder as a Python UDTF: one document row in,
    one row per CONSECUTIVE-REPEAT run out (token, 1-based start, run
    length ≥ 2) — the stutter-detection primitive for template-heavy
    corpora. The UDTF carries its state in plain Python locals within
    one eval() call (per-row state, not per-partition), which is the
    UDTF shape the built-ins genuinely can't express in one pass; the
    oracle replicates it with the gaps-and-islands window chain, so
    both formulations cross-check. Arrow-batched, text never shuffles;
    output is runs only (≪ token count)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, start_pos long, run_len long")
    class RunLengths:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split(" ")
            run_start = 0
            for i in range(1, len(toks) + 1):
                if i == len(toks) or toks[i] != toks[run_start]:
                    if i - run_start >= 2:
                        yield toks[run_start], run_start + 1, i - run_start
                    run_start = i

    spark.udtf.register("run_lengths", RunLengths)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < RLE_DOC_CAP
    ).createOrReplaceTempView("udtf_rle_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, r.tok, r.start_pos, r.run_len
        FROM udtf_rle_docs_in d, LATERAL run_lengths(d.text) r
        """
    )


@query(
    "sink_csv_partitioned_roundtrip",
    oracle="""
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT)     AS n,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(MIN(doc_id) AS BIGINT)  AS min_doc_id
        FROM documents
        GROUP BY lang, source
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-PARTITIONED CSV sink/scan: ``partitionBy(lang)`` writes one
    directory per language, the read side recovers the partition column
    from the directory names (``basePath`` discovery), and the gate
    aggregate groups by the recovered column — proving the partition
    column round-trips through the DIRECTORY LAYOUT, not the file
    bytes (flat-dialect sibling: ``sink_csv_options_roundtrip``,
    certified r05). At 100 TB this layout IS the partition-pruning
    story for any downstream `WHERE lang = ...` scan."""
    path = os.path.join(_SCRATCH, "sink_csv_partitioned_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "lang"
    )
    (
        d.write.mode("overwrite")
        .partitionBy("lang")
        .option("header", True)
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        schema="doc_id long, source string, n_chars long, lang string",
    )
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


# --- round-7 spare carriers: udtf / csv ----------------------------------

CHARFREQ_TOPN = 3
CHARFREQ_DOC_CAP = 100


@query(
    "udtf_char_topfreq",
    oracle=f"""
        WITH chars AS (
            SELECT doc_id,
                   UNNEST(string_split_regex(text, '')) AS ch
            FROM documents WHERE doc_id < {CHARFREQ_DOC_CAP}
        ),
        counted AS (
            SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM chars WHERE ch <> '' GROUP BY doc_id, ch
        )
        SELECT doc_id, ch, cnt, CAST(rn AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY cnt DESC, ch) AS rn FROM counted)
        WHERE rn <= {CHARFREQ_TOPN}
    """,
    tags=("udtf", "text", "documents"),
)
def udtf_char_topfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TOP-3 character frequencies as a Python UDTF: the
    UDTF holds a dict in eval(), counts, sorts, and emits only the
    winners — a bounded-output profile the engine would otherwise
    compute by exploding every character through a shuffle (the
    oracle's formulation, deliberately — two independent plans, one
    answer). Ties break alphabetically inside the UDTF with the same
    (−count, char) key the oracle's window uses. Arrow-batched,
    text never shuffles, output ≤ 3 rows/doc."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="ch string, cnt long, rank long")
    class CharTopFreq:
        def eval(self, text: str):
            if not text:
                return
            counts = {}
            for ch in text:
                counts[ch] = counts.get(ch, 0) + 1
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            for i, (ch, cnt) in enumerate(top[:CHARFREQ_TOPN], start=1):
                yield ch, cnt, i

    spark.udtf.register("char_topfreq", CharTopFreq)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < CHARFREQ_DOC_CAP
    ).createOrReplaceTempView("udtf_charfreq_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, c.ch, c.cnt, c.rank
        FROM udtf_charfreq_docs_in d, LATERAL char_topfreq(d.text) c
        """
    )


@query(
    "sink_csv_gzip_roundtrip",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT)      AS n,
               ROUND(SUM(o_totalprice), 2)   AS total,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("sink", "csv", "orders"),
)
def sink_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED CSV sink/scan: gzip-codec write, transparent
    decompressing read, aggregate equality against the parquet truth —
    the wire-format-under-compression leg of the CSV surface (dialect:
    ``sink_csv_options_roundtrip``; layout: ``sink_csv_partitioned_
    roundtrip``). Caveat encoded in the plan: gzip CSV parts are
    NON-SPLITTABLE, so at 100 TB the writer's partition count (one
    .csv.gz per task) IS the reader's parallelism — keep parts at
    ~100-500 MB or use zstd/bzip2 where splittable readers exist."""
    path = os.path.join(_SCRATCH, "sink_csv_gzip_roundtrip")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    (
        o.write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        schema="o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    return back.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )


# --- round-8 spares: numeric-delta UDTF + quote-all CSV ------------------

DELTA_PREFIX = 8  # first-differences emitted per vector


@query(
    "udtf_array_deltas",
    oracle=f"""
        WITH x AS (
            SELECT vec_id,
                   CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
                   CAST(UNNEST(embedding) AS DOUBLE) AS v
            FROM embeddings
        )
        SELECT vec_id, pos,
               ROUND(nxt - v, 6) AS delta
        FROM (SELECT vec_id, pos, v,
                     LEAD(v) OVER (PARTITION BY vec_id ORDER BY pos) AS nxt
              FROM x)
        WHERE pos <= {DELTA_PREFIX} AND nxt IS NOT NULL
    """,
    tags=("udtf", "embeddings"),
)
def udtf_array_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NUMERIC table function: a UDTF that walks a vector once and
    emits its first differences for the leading positions — the
    delta-encoding kernel, stated as per-row Python iteration instead
    of the explode + LEAD window the oracle uses (two independent
    formulations; the text-domain UDTFs are ``udtf_split_words`` /
    ``udtf_run_length_tokens``). Arrow-batched; the vector never
    shuffles and only 8 rows per vector come out."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos long, delta double")
    class ArrayDeltas:
        def eval(self, emb):
            if not emb:
                return
            for i in range(min(DELTA_PREFIX, len(emb) - 1)):
                yield i + 1, round(float(emb[i + 1]) - float(emb[i]), 6)

    spark.udtf.register("array_deltas", ArrayDeltas)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "udtf_delta_vecs_in"
    )
    return spark.sql(
        """
        SELECT v.vec_id, d.pos, d.delta
        FROM udtf_delta_vecs_in v,
             LATERAL array_deltas(cast(v.embedding AS array<double>)) d
        """
    )


@query(
    "sink_csv_quote_all_roundtrip",
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT)            AS n,
               CAST(SUM(length(text)) AS BIGINT)   AS total_len,
               CAST(MAX(doc_id) AS BIGINT)         AS max_doc_id
        FROM documents
        GROUP BY source
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_quote_all_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUOTE-ALL CSV dialect: every field quoted on write (the
    strictest interoperability mode — Excel/RFC4180 consumers), empty
    string pinned distinct from NULL via ``emptyValue``, read back and
    aggregated against parquet truth. Completes the CSV dialect
    battery (options / partitioned-layout / gzip siblings). Quoting is
    per-task on write and vectorized on read — no scale cost beyond
    the bytes."""
    path = os.path.join(_SCRATCH, "sink_csv_quote_all_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("emptyValue", '""')
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        schema="doc_id long, source string, text string",
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.length("text")).cast("bigint").alias("total_len"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# udtf: leading word-bigram emitter
# ---------------------------------------------------------------------------

BIGRAM_PREFIX = 6     # bigrams emitted per document
BIGRAM_DOC_CAP = 150  # documents scanned (bounded-output exemplar)


@query(
    "udtf_word_bigrams",
    oracle=f"""
        WITH w AS (
            SELECT doc_id,
                   CAST(generate_subscripts(l, 1) AS BIGINT) AS pos,
                   UNNEST(l) AS tok
            FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '),
                                     t -> t <> '') AS l
                  FROM documents WHERE doc_id < {BIGRAM_DOC_CAP})
        )
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               tok || ' ' || nxt AS bigram
        FROM (SELECT doc_id, pos, tok,
                     LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
              FROM w)
        WHERE pos <= {BIGRAM_PREFIX} AND nxt IS NOT NULL
    """,
    tags=("udtf", "text", "documents"),
)
def udtf_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD-BIGRAM UDTF: a Python table function walks each document
    once and yields its leading 6 bigrams with positions — the
    shingling kernel as per-row iteration, where the oracle needs an
    explode + two windows (ROW_NUMBER for position, LEAD for the
    successor) to state the same thing — two independent professional
    formulations (the full n-gram families live in
    ``dedup_ngram_jaccard`` / ``text_pmi_collocations``; UDTF
    siblings: ``udtf_run_length_tokens`` r06, ``udtf_char_topfreq``
    stock). Positions come from ``generate_subscripts`` over the
    token list — guaranteed list order, not scan order (a bare
    PARTITION BY window would depend on DuckDB's parallel delivery
    order). Arrow-batched, text never shuffles, ≤ 6 rows per
    document."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos long, bigram string")
    class WordBigrams:
        def eval(self, text: str):
            if not text:
                return
            toks = [t for t in text.split(" ") if t]
            for i in range(min(BIGRAM_PREFIX, len(toks) - 1)):
                yield i + 1, toks[i] + " " + toks[i + 1]

    spark.udtf.register("word_bigrams", WordBigrams)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < BIGRAM_DOC_CAP
    ).createOrReplaceTempView("udtf_bigram_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.bigram
        FROM udtf_bigram_docs_in d, LATERAL word_bigrams(d.text) b
        """
    )


# ---------------------------------------------------------------------------
# csv: TSV dialect (tab separator, custom null token) roundtrip
# ---------------------------------------------------------------------------


@query(
    "sink_csv_tsv_dialect_roundtrip",
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT)                       AS n,
               CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_nonen_null,
               CAST(SUM(n_chars) AS BIGINT)                   AS total_chars,
               CAST(MIN(doc_id) AS BIGINT)                    AS min_doc_id
        FROM documents
        GROUP BY source
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_tsv_dialect_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSV DIALECT roundtrip: tab separator + a custom NULL token
    (``\\N``, the classic MySQL-dump convention) written and read
    back with the SAME dialect options — non-English lang values are
    nulled on write, survive the wire as ``\\N``, and come back as
    SQL NULLs the aggregate can count (dialect family:
    ``sink_csv_options_roundtrip`` r03, gzip r06-stock, quote-all
    stock, hive-partitioned r06). The oracle restates the aggregates
    from the parquet truth — the roundtrip is the thing under test.
    Text is space-tokenized (never contains tabs), making TSV the
    natural quoting-free dialect here."""
    path = os.path.join(_SCRATCH, "sink_csv_tsv_dialect_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("lang") == "en", F.col("lang")).alias("lang_en_only"),
        "n_chars",
    )
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("sep", "\t")
        .option("nullValue", "\\N")
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        sep="\t",
        nullValue="\\N",
        schema="doc_id long, source string, lang_en_only string, n_chars long",
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("lang_en_only").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nonen_null"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# udtf: running-prefix statistics over a vector
# ---------------------------------------------------------------------------

PREFIX_STATS_N = 6


@query(
    "udtf_prefix_running_stats",
    oracle=f"""
        WITH x AS (
            SELECT vec_id,
                   CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
                   CAST(UNNEST(embedding) AS DOUBLE) AS v
            FROM embeddings
        )
        SELECT vec_id, pos,
               ROUND(SUM(v) OVER w, 6)  AS run_sum,
               ROUND(MIN(v) OVER w, 6)  AS run_min,
               ROUND(MAX(v) OVER w, 6)  AS run_max
        FROM x
        WHERE pos <= {PREFIX_STATS_N}
        WINDOW w AS (PARTITION BY vec_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING)
    """,
    tags=("udtf", "embeddings"),
)
def udtf_prefix_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING-PREFIX stats UDTF: a Python table function walks each
    vector once, maintaining sum/min/max state, and emits the first
    6 prefix rows — per-row sequential state vs the oracle's
    window-function formulation (two independent statements of the
    running-aggregate semantics; delta sibling: ``udtf_array_deltas``).
    The Python running sum adds elements in index order — the same
    sequential order the oracle's ROWS UNBOUNDED PRECEDING frame
    accumulates in, so the floats match bitwise (float32→double
    widening is exact). Arrow-batched; ≤ 6 rows out per
    vector."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos long, run_sum double, run_min double, run_max double")
    class PrefixStats:
        def eval(self, emb):
            if not emb:
                return
            s = 0.0
            mn = mx = float(emb[0])
            for i in range(min(PREFIX_STATS_N, len(emb))):
                v = float(emb[i])
                s += v
                mn = min(mn, v)
                mx = max(mx, v)
                yield i + 1, round(s, 6), round(mn, 6), round(mx, 6)

    spark.udtf.register("prefix_stats", PrefixStats)
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "udtf_prefix_stats_in"
    )
    return spark.sql(
        """
        SELECT e.vec_id, p.pos, p.run_sum, p.run_min, p.run_max
        FROM udtf_prefix_stats_in e, LATERAL prefix_stats(e.embedding) p
        """
    )


# ---------------------------------------------------------------------------
# csv: fields containing the delimiter and quote characters
# ---------------------------------------------------------------------------


@query(
    "sink_csv_quoted_fields_roundtrip",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   source || ', "' || lang || '"' AS tricky,
                   n_chars
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT)               AS n,
               CAST(SUM(n_chars) AS BIGINT)           AS total_chars,
               CAST(SUM(length(tricky)) AS BIGINT)    AS tricky_len,
               CAST(SUM(CASE WHEN tricky LIKE '%, "%' THEN 1 ELSE 0 END)
                    AS BIGINT)                        AS n_with_delim
        FROM d
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_quoted_fields_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV QUOTING under fire: a synthetic field containing BOTH the
    delimiter (", ") and the quote character is written and read back
    with default RFC-4180 quoting/escaping — the round-trip that
    breaks naive writers; counts and character masses must survive
    the wire exactly (dialect family: options r03, gzip/quote-all/
    partitioned stock, TSV tranche 1). The oracle recomputes from the
    parquet truth; the roundtrip is the thing under test."""
    import os as _os

    from big_data_audio_classification_spark.scratch import (
        SCRATCH_DIR as _SCR,
    )

    path = _os.path.join(_SCR, "sink_csv_quoted_fields_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("source"), F.lit(', "'), F.col("lang"), F.lit('"')).alias(
            "tricky"
        ),
        "n_chars",
    )
    d.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.csv(
        path, header=True, schema="doc_id long, tricky string, n_chars long"
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("tricky")).cast("bigint").alias("tricky_len"),
        F.sum(F.when(F.col("tricky").like('%, "%'), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_delim"),
    )


# ---------------------------------------------------------------------------
# udtf: run-length encoding of per-user event-type sequences
# ---------------------------------------------------------------------------

RLE_USER_CAP = 40  # users encoded (bounded-output exemplar)


@query(
    "udtf_run_length_encode",
    oracle=f"""
        WITH x AS (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS pos
            FROM events WHERE user_id < {RLE_USER_CAP}
        ),
        flagged AS (
            SELECT user_id, event_type, pos,
                   CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY pos)
                             IS DISTINCT FROM event_type
                        THEN 1 ELSE 0 END AS is_start
            FROM x
        ),
        runs AS (
            SELECT user_id, event_type, pos,
                   SUM(is_start) OVER (PARTITION BY user_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS run_id
            FROM flagged
        )
        SELECT user_id,
               CAST(run_id AS BIGINT)    AS run_id,
               event_type,
               CAST(MIN(pos) AS BIGINT)  AS start_pos,
               CAST(COUNT(*) AS BIGINT)  AS run_len
        FROM runs GROUP BY user_id, run_id, event_type
    """,
    tags=("udtf", "events", "session"),
)
def udtf_run_length_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUN-LENGTH ENCODING of each user's event-type sequence via a
    Python UDTF: one pass over the ordered sequence yields (run_id,
    type, start, length) — the compression/behavior-motif kernel,
    stated as per-row iteration where the oracle needs the full
    gaps-and-islands double window (LAG flag → running SUM → GROUP
    BY). Two genuinely different formulations of sequence encoding.
    The sequence reaches the UDTF as an in-row array (``collect_list``
    of (ts, event_id, type) structs, sort_array for deterministic
    order — never scan order); Arrow-batched; output rows = number of
    runs ≤ sequence length. User cap bounds the exemplar; the
    production form is the same plan without the filter."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="run_id long, event_type string, start_pos long, run_len long")
    class RunLengthEncode:
        def eval(self, types):
            if not types:
                return
            run_id, start, cur = 1, 1, types[0]
            n = 1
            for i, t in enumerate(types[1:], start=2):
                if t == cur:
                    n += 1
                else:
                    yield run_id, cur, start, n
                    run_id, start, cur, n = run_id + 1, i, t, 1
            yield run_id, cur, start, n

    spark.udtf.register("run_length_encode", RunLengthEncode)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < RLE_USER_CAP
    )
    seqs = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("types")
    )
    seqs.createOrReplaceTempView("udtf_rle_in")
    return spark.sql(
        """
        SELECT s.user_id, r.run_id, r.event_type, r.start_pos, r.run_len
        FROM udtf_rle_in s, LATERAL run_length_encode(s.types) r
        """
    )


# ---------------------------------------------------------------------------
# sink/csv: custom escape-character dialect roundtrip
# ---------------------------------------------------------------------------


@query(
    "sink_csv_escape_roundtrip",
    oracle="""
        WITH x AS (
            SELECT doc_id,
                   'v"' || CAST(doc_id AS VARCHAR) || '",' || source AS tricky
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT)                       AS n,
               CAST(SUM(length(tricky)) AS BIGINT)            AS total_len,
               CAST(SUM(CASE WHEN tricky LIKE '%"%' THEN 1 ELSE 0 END)
                    AS BIGINT)                                AS n_with_quote
        FROM x
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_escape_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKSLASH-ESCAPE CSV dialect roundtrip: fields that embed BOTH
    the quote character and the delimiter (built deterministically
    from doc_id + source), written with ``escape='\\\\'`` (the
    MySQL-ish dialect, vs RFC4180's doubled quotes) and read back with
    the SAME options — the dialect mismatch that silently corrupts
    fields when writer and reader disagree. The contract aggregates
    the RECONSTRUCTED values (count, total length, quote-carrying
    rows) against parquet truth computed by the oracle directly —
    if escaping dropped or doubled a character anywhere, total_len
    moves. Completes the dialect battery (quote-all / TSV / gzip /
    partitioned siblings). Per-task write, vectorized read."""
    import os as _os

    from big_data_audio_classification_spark.scratch import SCRATCH_DIR

    path = _os.path.join(SCRATCH_DIR, "sink_csv_escape_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('v"'),
            F.col("doc_id").cast("string"),
            F.lit('",'),
            F.col("source"),
        ).alias("tricky"),
    )
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("escape", "\\")
        .option("quote", '"')
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        escape="\\",
        quote='"',
        schema="doc_id long, tricky string",
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.length("tricky")).cast("bigint").alias("total_len"),
        F.sum(F.when(F.col("tricky").contains('"'), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_quote"),
    )


# ---------------------------------------------------------------------------
# udtf: character trigrams with positions
# ---------------------------------------------------------------------------

TRIGRAM_DOC_MOD = 20  # bounded sample: doc_id % 20 == 0
TRIGRAM_PREFIX = 12  # leading trigrams per document


@query(
    "udtf_char_trigrams",
    oracle=f"""
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               substr(text, CAST(i AS INT), 3) AS trigram
        FROM documents,
             UNNEST(range(1, LEAST(length(text) - 1, {TRIGRAM_PREFIX} + 1)))
                 AS t(i)
        WHERE doc_id % {TRIGRAM_DOC_MOD} = 0 AND length(text) >= 3
    """,
    tags=("udtf", "text", "documents"),
)
def udtf_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-TRIGRAM UDTF: a Python table function walks each
    sampled document once and yields its leading 12 character
    trigrams with 1-based positions — the char-shingling kernel
    (language-ID and fuzzy-matching both start here) as per-row
    iteration, where the oracle states the same thing positionally
    (substr over a bounded range). UDTF siblings:
    ``udtf_word_bigrams`` r08, ``udtf_run_length_encode`` r09
    window. Arrow-batched; the text never shuffles; ≤ 12 rows per
    sampled document, sample bounded by the doc_id modulus."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos long, trigram string")
    class CharTrigrams:
        def eval(self, text: str):
            if not text or len(text) < 3:
                return
            for i in range(min(len(text) - 2, TRIGRAM_PREFIX)):
                yield i + 1, text[i : i + 3]

    spark.udtf.register("char_trigrams", CharTrigrams)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % TRIGRAM_DOC_MOD == 0
    ).createOrReplaceTempView("udtf_trigram_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, g.pos, g.trigram
        FROM udtf_trigram_docs_in d, LATERAL char_trigrams(d.text) g
        """
    )


# ---------------------------------------------------------------------------
# csv: embedded-newline (multiLine) quoted-field roundtrip
# ---------------------------------------------------------------------------


@query(
    "sink_csv_multiline_quoted_roundtrip",
    oracle="""
        WITH x AS (
            SELECT doc_id,
                   source || chr(10) || substr(text, 1, 40) AS tricky
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT)            AS n,
               CAST(SUM(length(tricky)) AS BIGINT) AS total_len,
               CAST(SUM(CASE WHEN contains(tricky, chr(10))
                             THEN 1 ELSE 0 END) AS BIGINT)
                                                   AS n_with_newline,
               CAST(MIN(doc_id) AS BIGINT)         AS min_doc_id
        FROM x
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_multiline_quoted_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMBEDDED-NEWLINE CSV roundtrip: fields carrying a literal
    newline (built deterministically: source + LF + a text prefix)
    written RFC4180-quoted and read back with ``multiLine=true`` —
    the dialect wrinkle that silently SPLITS records when the reader
    treats every physical line as a row (the default fast path;
    multiLine forces whole-file parsing, trading split-ability for
    correctness — exactly the trade a 100 TB ingest must make
    knowingly, so this carrier pins the semantics). The contract
    aggregates the reconstructed values (count, total length
    INCLUDING the newline, newline-carrying rows, key min) against
    parquet truth computed by the oracle directly — a record split
    anywhere moves every aggregate. Completes the dialect battery
    (quote-all / TSV / escape / gzip / partitioned siblings)."""
    import os as _os

    from big_data_audio_classification_spark.scratch import SCRATCH_DIR

    path = _os.path.join(SCRATCH_DIR, "sink_csv_multiline_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("source"), F.lit("\n"), F.substring("text", 1, 40)
        ).alias("tricky"),
    )
    # The writer TRIMS field whitespace by default
    # (ignoreLeading/TrailingWhiteSpace=true on WRITE — unlike read) —
    # a 40-char text prefix ending in a space silently shrinks and the
    # oracle's total_len catches it (measured: 75 chars over 500 docs,
    # r09). Dialect pinned trim-free on both sides.
    d.write.mode("overwrite").options(
        header=True,
        quoteAll=True,
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    ).csv(path)
    back = spark.read.options(
        header=True, multiLine=True, inferSchema=False
    ).csv(path)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.length("tricky")).cast("bigint").alias("total_len"),
        F.sum(F.when(F.col("tricky").contains("\n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_newline"),
        F.min(F.col("doc_id").cast("bigint")).alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# udtf + session: sessionized event-type path triples
# ---------------------------------------------------------------------------

PATHS_GAP_S = 1800  # 30-min session gap, matches the sessionization family


@query(
    "udtf_session_paths",
    oracle=f"""
        WITH x AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN epoch_us(ts) - epoch_us(
                            LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id))
                            > {PATHS_GAP_S * 1_000_000}
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        s AS (
            SELECT user_id, event_type, ts, event_id,
                   SUM(new_sess) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS sess_id
            FROM x
        ),
        tri AS (
            SELECT user_id,
                   event_type || '>' ||
                   LEAD(event_type, 1) OVER w || '>' ||
                   LEAD(event_type, 2) OVER w AS path3,
                   LEAD(sess_id, 2) OVER w = sess_id AS same_sess
            FROM s
            WINDOW w AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id)
        )
        SELECT path3,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tri WHERE path3 IS NOT NULL AND same_sess
        GROUP BY path3
    """,
    tags=("udtf", "session", "events"),
)
def udtf_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSIONIZED PATH TRIPLES via a Python UDTF: one stateful pass
    per user (TABLE(...) PARTITION BY user_id ORDER BY ts, event_id —
    the tiebreak matters here, unlike the count-only sessionizer:
    path CONTENT is tie-order sensitive) emits every within-session
    3-gram of event types at a 30-min gap, then a census ranks the
    triples — the behavioral-motif table funnels and Markov models
    read. The UDTF carries O(1) state (last two types + last epoch);
    gaps compare exact integer microseconds computed JVM-side
    (unix_micros on the UTC-pinned ts — bijective, so the (e,
    event_id) order equals (ts, event_id); the Python body stays
    integer-only, r10). The oracle restates it as
    gap-islands + double LEAD inside (user, session) windows — an
    independent formulation of both the session boundary AND the
    triple windowing (a triple must not straddle sessions; the UDTF
    resets its buffer, the oracle checks LEAD(sess_id,2)). 100 TB:
    one user-keyed shuffle+sort, census on <= |types|³ rows."""
    from pyspark.sql.functions import udtf

    GAP_US = PATHS_GAP_S * 1_000_000

    @udtf(returnType="user_id bigint, path3 string")
    class PathTriples:
        def __init__(self):
            self.user = None
            self.last_epoch = None
            self.buf = []

        def eval(self, row):
            # Epoch micros arrive PRECOMPUTED from the JVM (r10): the
            # former per-row datetime subtraction in Python was pure
            # boundary tax (guide §4 — ship only what the function
            # needs, keep the Python body integer-only). Gap compare
            # and ordering are identical: unix_micros is bijective on
            # the UTC-pinned ts, so ORDER BY (e, event_id) is the same
            # total order as (ts, event_id).
            e = row["e"]
            if (
                self.last_epoch is not None
                and e - self.last_epoch > GAP_US
            ):
                self.buf = []  # session break: triples never straddle
            self.last_epoch = e
            self.user = row["user_id"]
            self.buf.append(row["event_type"])
            if len(self.buf) > 3:
                self.buf.pop(0)
            if len(self.buf) == 3:
                yield self.user, ">".join(self.buf)

    spark.udtf.register("session_paths_udtf", PathTriples)
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_for_paths_udtf")
    tri = spark.sql(
        """
        SELECT * FROM session_paths_udtf(
            TABLE(SELECT user_id, unix_micros(ts) AS e, event_type, event_id
                  FROM events_for_paths_udtf)
            PARTITION BY user_id ORDER BY (e, event_id)
        )
        """
    )
    return tri.groupBy("path3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# sink/csv: nullValue vs emptyValue dialect roundtrip
# ---------------------------------------------------------------------------


@query(
    "sink_csv_null_empty_roundtrip",
    oracle="""
        WITH x AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN NULL
                        WHEN doc_id % 3 = 1 THEN ''
                        ELSE lang END AS lang_mod
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN lang_mod IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(SUM(CASE WHEN lang_mod = '' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_empty,
               CAST(SUM(CASE WHEN lang_mod <> '' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_regular,
               CAST(SUM(length(lang_mod)) AS BIGINT) AS total_len
        FROM x
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_null_empty_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-vs-EMPTY CSV dialect roundtrip — the distinction CSV
    cannot natively spell (both serialize to nothing) and the one
    every warehouse loader gets wrong first: a three-way column
    (NULL / '' / value, derived from doc_id mod 3) written with the
    one LOSSLESS dialect Spark's writer+reader pair actually supports:
    explicit ``nullValue='\\\\N'`` plus the DEFAULT empty handling,
    which quotes empties RFC4180-style (``""``) — so ``\\\\N`` → NULL
    and ``""`` → '' on the way back. (Probed r10: the default dialect
    collapses '' into NULL on read, and an explicit ``emptyValue``
    sentinel is writer-only — the reader hands back the literal
    sentinel — both silently corrupting; this operator pins the
    config that doesn't.) The census (null/empty/regular counts +
    total length) is computed from the RECONSTRUCTED column and must
    equal the oracle's parquet truth. Completes the dialect battery
    (quote-all / TSV / escape / multiLine / gzip siblings). Per-task
    write, vectorized read."""
    import os as _os

    from big_data_audio_classification_spark.scratch import SCRATCH_DIR

    path = _os.path.join(SCRATCH_DIR, "sink_csv_null_empty_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 3 == 1, F.lit(""))
        .otherwise(F.col("lang"))
        .alias("lang_mod"),
    )
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "\\N")
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        nullValue="\\N",
        schema="doc_id long, lang_mod string",
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("lang_mod").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
        F.sum(F.when(F.col("lang_mod") == "", 1).otherwise(0))
        .cast("bigint")
        .alias("n_empty"),
        F.sum(F.when(F.col("lang_mod") != "", 1).otherwise(0))
        .cast("bigint")
        .alias("n_regular"),
        F.sum(F.length("lang_mod")).cast("bigint").alias("total_len"),
    )


# ---------------------------------------------------------------------------
# udtf: per-position digit census of order totals (Benford face)
# ---------------------------------------------------------------------------

DIGIT_MAX_POS = 8
DIGIT_SAMPLE_MOD = 11  # systematic 1-in-11 sample: o_orderkey % 11 = 5


@query(
    "udtf_value_digits",
    oracle=f"""
        WITH c AS (
            SELECT CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                   AS s
            FROM orders WHERE o_orderkey % {DIGIT_SAMPLE_MOD} = 5
        ),
        d AS (
            SELECT CAST(generate_subscripts(string_split_regex(s, ''), 1)
                        AS BIGINT) AS pos,
                   CAST(ascii(UNNEST(string_split_regex(s, ''))) - 48
                        AS BIGINT) AS digit
            FROM c
        )
        SELECT pos, digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM d WHERE pos <= {DIGIT_MAX_POS}
        GROUP BY pos, digit
    """,
    tags=("udtf", "scalar", "math", "orders"),
)
def udtf_value_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-POSITION DIGIT CENSUS of order totals via a Python UDTF —
    the Benford's-law audit face (position 1 should be log-skewed
    toward small digits on organic monetary data; a uniform leading
    digit is the classic fabricated-data tell): a table function
    walks the decimal-cents string of each total and yields (pos,
    digit) rows, aggregated to a ≤ 8×10-row census over a SYSTEMATIC
    1-in-11 sample (o_orderkey%11=5 — deterministic,
    scale-proportional, and key-stride-free for sequential orderkeys;
    the cap exists because the Python UDTF's per-row emission is the
    scan cost, measured 4.6× wall at 10× rows unsampled, and the
    Arrow UDTF variant benched 6× SLOWER still — batch overhead
    dwarfs these 2-tuple yields). The oracle restates the emission
    with generate_subscripts over a character split — two independent
    formulations of positional digit extraction. Cents are exact;
    counts exact. UDTF siblings: ``udtf_char_trigrams``,
    ``udtf_array_deltas``, ``udtf_session_paths``. 100 TB: the sample
    predicate pushes to the scan; the census map-side combines."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos long, digit long")
    class ValueDigits:
        def eval(self, cents: int):
            if cents is None:
                return
            for i, ch in enumerate(str(cents)[:DIGIT_MAX_POS]):
                yield i + 1, ord(ch) - 48

    spark.udtf.register("value_digits", ValueDigits)
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % DIGIT_SAMPLE_MOD == 5
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    ).createOrReplaceTempView("udtf_digit_orders_in")
    return spark.sql(
        """
        SELECT d.pos, d.digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM udtf_digit_orders_in o, LATERAL value_digits(o.cents) d
        GROUP BY d.pos, d.digit
        """
    )


# ---------------------------------------------------------------------------
# csv: pipe-delimited single-quote dialect roundtrip
# ---------------------------------------------------------------------------


@query(
    "sink_csv_pipe_quotechar_roundtrip",
    oracle="""
        WITH x AS (
            SELECT doc_id,
                   'a|' || chr(39) || CAST(doc_id AS VARCHAR) || chr(39)
                   || '|' || source AS tricky
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT)                        AS n,
               CAST(SUM(length(tricky)) AS BIGINT)             AS total_len,
               CAST(SUM(CASE WHEN tricky LIKE '%|%' THEN 1 ELSE 0 END)
                    AS BIGINT)                                 AS n_with_pipe,
               CAST(SUM(CASE WHEN contains(tricky, chr(39)) THEN 1 ELSE 0 END)
                    AS BIGINT)                                 AS n_with_quote
        FROM x
    """,
    tags=("sink", "csv", "documents"),
)
def sink_csv_pipe_quotechar_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PIPE-DELIMITED, SINGLE-QUOTE-QUOTED CSV dialect roundtrip:
    fields that embed BOTH the pipe delimiter and the single-quote
    quote character, written with ``sep='|', quote="'"`` and read
    back with the SAME options — the non-default-dialect case where
    writer/reader asymmetry corrupts silently (RFC-double-quote
    sibling: ``sink_csv_escape_roundtrip``; the dialect battery also
    covers TSV / gzip / quote-all / multiLine / null-sentinel). The
    contract aggregates the RECONSTRUCTED values (count, total
    length, delimiter-carrying and quote-carrying rows) against
    parquet truth computed directly by the oracle — any dropped or
    doubled character moves total_len. Per-task write, vectorized
    read."""
    import os as _os

    from big_data_audio_classification_spark.scratch import SCRATCH_DIR

    path = _os.path.join(SCRATCH_DIR, "sink_csv_pipe_quotechar_roundtrip")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("a|'"),
            F.col("doc_id").cast("string"),
            F.lit("'|"),
            F.col("source"),
        ).alias("tricky"),
    )
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("sep", "|")
        .option("quote", "'")
        .option("escape", "\\")
        .csv(path)
    )
    back = spark.read.csv(
        path,
        header=True,
        sep="|",
        quote="'",
        escape="\\",
        schema="doc_id long, tricky string",
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.length("tricky")).cast("bigint").alias("total_len"),
        F.sum(F.when(F.col("tricky").contains("|"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_pipe"),
        F.sum(F.when(F.col("tricky").contains("'"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_quote"),
    )
