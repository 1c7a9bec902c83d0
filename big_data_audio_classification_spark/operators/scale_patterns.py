"""Scale patterns: the shuffle-shaping techniques that keep plans
healthy at 100 TB, each demonstrated as an oracle-checked query whose
RESULT equals the naive form — the technique changes the physical plan,
never the answer.

* Two-phase distinct — COUNT(DISTINCT x) per skewed key: phase 1
  dedups on (key, x) (the shuffle key carries x, so one hot key spreads
  over many partitions), phase 2 counts per key. Spark's planner does
  this rewrite itself via `expand`; writing it explicitly keeps the
  intent visible and composes with >1 distinct column.
* Salted join — a skewed fact key joined to a dim: the fact side gets a
  random-ish salt, the dim side is exploded ×SALTS, the join key becomes
  (key, salt) so one hot key lands on SALTS partitions instead of one.
  AQE's skew-join split handles sort-merge skew automatically; explicit
  salting is the portable form (works for any join type, any engine
  version, and for aggregation skew too).
* Bucketed co-located join — both fact tables written `bucketBy(N, key)`:
  the join reads bucket-aligned files and needs NO exchange on either
  side — the one-time write cost amortizes over every downstream join
  on that key (asserted shuffle-free in tests/test_scale_patterns.py).

The reference has no analog (single-process pandas never shuffles —
SURVEY §4.2); these are the engine's own 100 TB design surface.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

SALTS = 8
BUCKETS = 8
# process-unique bucket-table names: concurrent gate/test runs share the
# metastore-less session catalog namespace and warehouse dir
_BKT_ORDERS = f"bkt_orders_{os.getpid()}"
_BKT_CUSTOMER = f"bkt_customer_{os.getpid()}"


@query(
    "skew_twophase_distinct",
    oracle="""
        SELECT user_id,
               COUNT(DISTINCT json_extract_string(props, '$.k')) AS n_distinct_k,
               COUNT(DISTINCT event_type)                        AS n_types
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    tags=("scale", "aggregate", "skew"),
)
def skew_twophase_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key COUNT(DISTINCT) as explicit dedup-then-count. events has
    ~15 users over 10k+ rows — every key is hot; phase 1's shuffle key
    (user_id, value) spreads each user across partitions, phase 2
    reduces tiny per-key sets."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").alias("k_value"),
        "event_type",
    )
    ks = (
        e.select("user_id", "k_value").distinct()
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_distinct_k"))
    )
    types = (
        e.select("user_id", "event_type").distinct()
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_types"))
    )
    return ks.join(types, "user_id").orderBy("user_id")


@query(
    "skew_salted_join",
    oracle="""
        WITH dim AS (
            SELECT DISTINCT user_id,
                   CASE WHEN user_id % 2 = 0 THEN 'vip' ELSE 'std' END AS segment
            FROM events
        )
        SELECT segment,
               COUNT(*)             AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events e JOIN dim USING (user_id)
        GROUP BY segment
        ORDER BY segment
    """,
    tags=("scale", "join", "skew"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join: the fact side salts its hot key, the dim side
    is exploded ×SALTS, the join runs on (user_id, salt). Result is
    identical to the unsalted join; the point is that each hot user's
    rows now occupy SALTS shuffle partitions instead of one."""
    e = load_table(spark, sf_dir, "events")
    dim = e.select("user_id").distinct().select(
        "user_id",
        F.when(F.pmod("user_id", F.lit(2)) == 0, "vip").otherwise("std").alias("segment"),
    )
    fact = e.select("user_id", "value", F.pmod("event_id", F.lit(SALTS)).alias("salt"))
    dim_exploded = dim.select(
        "user_id", "segment", F.explode(F.sequence(F.lit(0), F.lit(SALTS - 1))).alias("salt")
    )
    return (
        fact.join(dim_exploded, ["user_id", "salt"])
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("segment")
    )


@query(
    "bucketed_colocated_join",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*)                  AS n_orders,
               COUNT(DISTINCT c_custkey) AS n_customers
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("scale", "join", "bucketing"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join over tables written ``bucketBy(BUCKETS, key)``: both sides
    pre-hash-partitioned on disk, so the sort-merge join needs no
    exchange (asserted in tests with broadcast disabled). The write is
    the one-time cost every repeated fact-fact join amortizes."""
    import shutil

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (_BKT_ORDERS, _BKT_CUSTOMER):
        # a stale managed-table dir from a previous session blocks
        # saveAsTable even in overwrite mode — drop both table and dir
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (
        o.write.mode("overwrite").format("parquet")
        .bucketBy(BUCKETS, "o_custkey").sortBy("o_custkey")
        .saveAsTable(_BKT_ORDERS)
    )
    (
        c.write.mode("overwrite").format("parquet")
        .bucketBy(BUCKETS, "c_custkey").sortBy("c_custkey")
        .saveAsTable(_BKT_CUSTOMER)
    )
    ob, cb = spark.table(_BKT_ORDERS), spark.table(_BKT_CUSTOMER)
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .orderBy("o_orderstatus")
    )


_DPP_DIR = f"/tmp/spark_graft_dpp_{os.getpid()}"
# priority tiers: the dim filter is on `keep`, NOT the join key, so only
# RUNTIME pruning (DPP) can narrow the fact scan to the matching partitions
_PRIORITY_TIERS = (
    ("1-URGENT", 1),
    ("2-HIGH", 1),
    ("3-MEDIUM", 0),
    ("4-NOT SPECIFIED", 0),
    ("5-LOW", 0),
)


@query(
    "scale_dpp_partitioned_join",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 1), ('3-MEDIUM', 0),
                     ('4-NOT SPECIFIED', 0), ('5-LOW', 0)) AS tiers(prio, keep)
          ON o_orderpriority = prio
        WHERE keep = 1
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("scale", "partition-pruning", "dpp", "orders"),
)
def scale_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is stored partitioned
    by ``o_orderpriority``; the dim filter sits on ``keep`` (not the
    join key), so no static filter can be inferred — at runtime Spark
    evaluates the broadcast dim first and prunes the fact scan to the
    2 matching partitions (``dynamicpruningexpression`` in the scan's
    PartitionFilters, asserted in tests/test_plans.py).

    At 100 TB this is the difference between scanning every date/tenant
    partition and scanning only the ones the dim side selects — the
    write-once ``partitionBy`` layout makes every selective dim join a
    partial scan."""
    import shutil

    if not os.path.isdir(_DPP_DIR):
        shutil.rmtree(_DPP_DIR, ignore_errors=True)
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(_DPP_DIR)
        )
    fact = spark.read.parquet(_DPP_DIR)
    tiers = spark.createDataFrame(list(_PRIORITY_TIERS), "prio string, keep int")
    return (
        fact.join(
            F.broadcast(tiers.filter(F.col("keep") == 1)),
            fact["o_orderpriority"] == F.col("prio"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def scale_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join reduction: when a shuffle join's
    build side is selective, Catalyst can inject a Bloom filter of the
    build-side keys into the probe-side SCAN, discarding non-matching
    fact rows before the exchange — at 100 TB this is the difference
    between shuffling the whole fact table and shuffling the ~1% that
    can possibly join. Thresholds are lowered here because the local
    fixture is far below the production defaults (10 GB probe side);
    the caller (tests/test_scale_patterns.py) sets and restores them
    around the action so the shared session stays clean."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450_000
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("value"),
        )
    )


ZBITS = 8  # bits per dimension interleaved into the morton code


def _morton_terms_sql(a: str, b: str) -> str:
    # every term fully parenthesized: DuckDB's << binds LOOSER than +,
    # so an unwrapped `x << 0 + y << 1` chain cascades the shifts.
    terms = []
    for i in range(ZBITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "scale_zorder_morton",
    oracle=f"""
        WITH z AS (
            SELECT l_partkey, l_suppkey,
                   CAST({_morton_terms_sql("l_partkey", "l_suppkey")} AS BIGINT)
                       AS morton
            FROM lineitem
        )
        SELECT morton // 4096          AS zbucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(l_partkey)           AS min_part,
               MAX(l_partkey)           AS max_part,
               MIN(l_suppkey)           AS min_supp,
               MAX(l_suppkey)           AS max_supp
        FROM z GROUP BY 1
    """,
    tags=("scale", "layout", "zorder"),
)
def scale_zorder_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key: interleave the low bits of two join/
    filter dimensions into one sort key, so range-partitioning + sorted
    parquet writes cluster BOTH dimensions at once — file-level min/max
    statistics then prune scans for predicates on either column (the
    data-skipping trick behind Delta/Iceberg Z-ORDER, expressed with
    nothing but shiftright/&/shiftleft, all codegen).

    The query proves the clustering property the layout buys: within
    each zbucket (aligned morton range), BOTH the partkey and suppkey
    min/max spreads are narrow — exactly what makes file skipping
    effective after `repartitionByRange(morton) + sortWithinPartitions`."""
    li = load_table(spark, sf_dir, "lineitem")
    morton = None
    for i in range(ZBITS):
        pa = F.shiftleft(F.shiftright("l_partkey", i).bitwiseAND(F.lit(1)), 2 * i)
        sa = F.shiftleft(
            F.shiftright("l_suppkey", i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = pa + sa
        morton = term if morton is None else morton + term
    z = li.select("l_partkey", "l_suppkey", morton.cast("long").alias("morton"))
    return (
        z.groupBy((F.col("morton") / 4096).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


@query(
    "profile_join_skew",
    oracle="""
        WITH mult AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(SUM(c) AS BIGINT)            AS n_rows,
               CAST(COUNT(*) AS BIGINT)          AS n_keys,
               CAST(MAX(c) AS BIGINT)            AS max_mult,
               ROUND(QUANTILE_CONT(c, 0.5), 4)   AS p50_mult,
               ROUND(QUANTILE_CONT(c, 0.99), 4)  AS p99_mult,
               ROUND(CAST(MAX(c) AS DOUBLE) / AVG(c), 4) AS skew_ratio,
               CAST(SUM(c * c) AS BIGINT)        AS selfjoin_rows
        FROM mult
    """,
    tags=("scale", "skew", "profiling", "aggregate"),
)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for `lineitem.l_partkey` — the report
    you run BEFORE picking a join strategy: key multiplicity extremes
    and quantiles, the max/mean skew ratio (how unbalanced the biggest
    reduce task will be), and Σc² (the exact output cardinality of a
    self-equi-join on this key — the quadratic-blowup predictor that
    decides salting vs broadcast vs prefix-filtering).

    One key-histogram aggregation (map-side combined), then scalar
    aggregates over the |keys|-row histogram; the percentile runs over
    the histogram, never raw rows."""
    li = load_table(spark, sf_dir, "lineitem")
    mult = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    return mult.agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_mult"),
        F.round(F.expr("percentile(c, 0.5)"), 4).alias("p50_mult"),
        F.round(F.expr("percentile(c, 0.99)"), 4).alias("p99_mult"),
        F.round(F.max("c").cast("double") / F.avg("c"), 4).alias("skew_ratio"),
        F.sum(F.col("c") * F.col("c")).alias("selfjoin_rows"),
    )


@query(
    "scale_cache_reuse",
    oracle="""
        WITH base AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem WHERE l_quantity > 30
        )
        SELECT 'flag:' || l_returnflag AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM base GROUP BY l_returnflag
        UNION ALL
        SELECT 'status:' || l_linestatus,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(cents) AS BIGINT)
        FROM base GROUP BY l_linestatus
    """,
    tags=("scale", "cache", "lineitem"),
)
def scale_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize-once / consume-twice: an expensive filtered
    projection is ``persist()``-ed and feeds TWO independent rollups
    (by return flag, by line status) that union into one result. The
    second consumer reads the in-memory columnar cache
    (InMemoryTableScan — plan-asserted in tests/test_plans.py), not
    the parquet files: at 100 TB this is the difference between one
    scan and N scans whenever a curation pipeline fans a cleaned
    intermediate out to several reports.

    The cache holds the NARROW projection (three columns, post-filter)
    — caching the raw scan would hold 10× the bytes for no benefit;
    persist-the-projection is the discipline. Unpersist is the
    caller's job at pipeline end (the driver gate collects and
    discards; executors evict LRU under pressure, correctness never
    depends on residency).
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.where(F.col("l_quantity") > 30)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .persist()
    )
    by_flag = base.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    ).select(
        F.concat(F.lit("flag:"), F.col("l_returnflag")).alias("grp"),
        "n",
        "cents",
    )
    by_status = base.groupBy("l_linestatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    ).select(
        F.concat(F.lit("status:"), F.col("l_linestatus")).alias("grp"),
        "n",
        "cents",
    )
    return by_flag.unionAll(by_status)


# --- round-5 carrier: first-time 'skew' window entry -----------------

AGG_SALTS = 8


@query(
    "skew_salted_partial_agg",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 4)     AS sum_value,
               ROUND(MAX(value), 4)     AS max_value
        FROM events
        GROUP BY event_type
    """,
    tags=("scale", "skew", "aggregate", "events"),
)
def skew_salted_partial_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation for hot grouping keys: phase 1
    aggregates on (key, salt) — each of the 5 event types (all hot:
    ~n/5 rows each) spreads across 8 shuffle partitions — phase 2
    merges the 8 partials per key. SUM/COUNT/MAX are all
    merge-associative, so the result equals the direct group-by the
    oracle states; the plan difference is that no single reducer ever
    holds a whole hot key. (Spark's map-side partial aggregation
    already gives this for algebraic aggs — the explicit salt is the
    pattern for when phase 1 is itself expensive, e.g. distinct or
    collect-style states; sibling of ``skew_twophase_distinct``.)"""
    e = load_table(spark, sf_dir, "events")
    salted = e.select(
        "event_type",
        "value",
        (F.col("event_id") % AGG_SALTS).alias("salt"),
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("psum"),
        F.max("value").alias("pmax"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").cast("bigint").alias("n"),
        F.round(F.sum("psum"), 4).alias("sum_value"),
        F.round(F.max("pmax"), 4).alias("max_value"),
    )


# --- round-6 carrier: first-time 'skew' entry --------------------------


@query(
    "skew_hot_key_two_path_join",
    oracle="""
        SELECT e.user_id,
               ANY_VALUE(c.c_mktsegment)    AS segment,
               CAST(COUNT(*) AS BIGINT)     AS n_events,
               ROUND(SUM(e.value), 4)       AS sum_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY e.user_id
    """,
    tags=("scale", "skew", "join", "events", "customer"),
)
def skew_hot_key_two_path_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic TWO-PATH skew join: fact keys hotter than the mean
    frequency take the broadcast path (dim rows for hot keys are tiny
    by definition — at most |hot keys|), everything else takes the
    normal shuffle join; the union is then aggregated. The oracle is
    the plain join — the split must be RESULT-INVISIBLE, which is
    exactly what certifies it. Complements ``skew_salted_partial_agg``
    (certified r05), which handles skewed AGGREGATION; this is the
    skewed-JOIN half of the playbook (AQE's skew-join optimization
    automated form, stated explicitly so it survives engines/settings
    without AQE).

    100 TB: the hot-key frequency scan is one map-side-combined
    count; the broadcast side is |hot|·dim-row, bounded by the key
    frequency threshold, never fact-sized."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    freq = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    avg_cnt = freq.select(F.avg("cnt").alias("avg_cnt"))
    hot_keys = (
        freq.join(F.broadcast(avg_cnt))
        .filter(F.col("cnt") > F.col("avg_cnt"))
        .select("user_id")
    )
    e_tagged = e.join(
        F.broadcast(hot_keys.withColumn("is_hot", F.lit(True))),
        "user_id",
        "left",
    )
    hot_dim = c.join(
        F.broadcast(hot_keys),
        c["c_custkey"] == hot_keys["user_id"],
        "left_semi",
    )
    hot_path = e_tagged.filter(F.col("is_hot").isNotNull()).join(
        F.broadcast(hot_dim), e_tagged["user_id"] == hot_dim["c_custkey"]
    )
    cold_path = e_tagged.filter(F.col("is_hot").isNull()).join(
        c, e_tagged["user_id"] == c["c_custkey"]
    )
    both = hot_path.select("user_id", "value", "c_mktsegment").unionByName(
        cold_path.select("user_id", "value", "c_mktsegment")
    )
    return both.groupBy("user_id").agg(
        F.any_value("c_mktsegment").alias("segment"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# --- round-7 spare carrier: salted two-phase top-k ----------------------

SALT_TOPK_K = 3
SALT_TOPK_BUCKETS = 8


@query(
    "skew_salted_topk",
    oracle=f"""
        SELECT event_type, event_id, value_r AS value
        FROM (
            SELECT event_type, event_id, ROUND(value, 4) AS value_r,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY value DESC, event_id) AS rn
            FROM events)
        WHERE rn <= {SALT_TOPK_K}
    """,
    tags=("scale", "skew", "topk", "window", "events"),
)
def skew_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED two-phase TOP-K per key: phase 1 ranks within
    (key, salt) buckets and keeps k per bucket — 8 parallel partial
    top-ks instead of one sort-buffer per hot key — phase 2 merges the
    ≤ k·8 survivors per key. The split is RESULT-INVISIBLE (any
    global top-k member is top-k within its bucket), which the plain
    windowed oracle certifies. The aggregation twin is
    ``skew_salted_partial_agg`` (certified r05); this carries the same
    discipline to order statistics, where skew hurts MORE (rank
    windows sort-buffer whole partitions)."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    salted = e.select(
        "event_type",
        "event_id",
        "value",
        (F.col("event_id") % SALT_TOPK_BUCKETS).alias("salt"),
    )
    w1 = Window.partitionBy("event_type", "salt").orderBy(
        F.col("value").desc(), "event_id"
    )
    partial = salted.select(
        "event_type", "event_id", "value", F.row_number().over(w1).alias("rn")
    ).filter(F.col("rn") <= SALT_TOPK_K)
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    return (
        partial.select(
            "event_type", "event_id", "value",
            F.row_number().over(w2).alias("rn2"),
        )
        .filter(F.col("rn2") <= SALT_TOPK_K)
        .select(
            "event_type", "event_id", F.round("value", 4).alias("value")
        )
    )


# --- round-8 spare: skew diagnosis report -------------------------------

SKEW_PROFILE_TOP = 5


@query(
    "skew_key_frequency_profile",
    oracle=f"""
        WITH freq AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM events GROUP BY user_id
        ),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
                       CAST(COUNT(*) AS DOUBLE) AS k FROM freq)
        SELECT user_id, cnt,
               ROUND(cnt / tot.n, 6)           AS share,
               ROUND(cnt * tot.k / tot.n, 6)   AS vs_uniform,
               CAST(rnk AS BIGINT)             AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rnk
              FROM freq), tot
        WHERE rnk <= {SKEW_PROFILE_TOP}
    """,
    tags=("scale", "skew", "report", "topk", "events"),
)
def skew_key_frequency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKEW DIAGNOSIS report: the hottest join/agg keys with their
    traffic share and their frequency relative to a uniform key
    distribution (vs_uniform ≫ 1 ⇒ that key needs salting / the AQE
    skew threshold tuned) — the measurement that DECIDES between the
    plain, salted (``skew_salted_partial_agg``), and two-path
    (``skew_hot_key_two_path_join``) plans. One map-side-combined
    count + a top-k over the |keys| frame; O(k) output at any SF."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    freq = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = freq.agg(
        F.sum("cnt").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    w = Window.orderBy(F.col("cnt").desc(), "user_id")
    return (
        freq.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= SKEW_PROFILE_TOP)
        .join(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
            F.round(F.col("cnt") * F.col("k") / F.col("n"), 6).alias(
                "vs_uniform"
            ),
            F.col("rnk").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# skew: salt-factor planning table from the key-frequency census
# ---------------------------------------------------------------------------

SALT_TARGET_PARTS = 32  # executor-slot count the salt plan levels for


@query(
    "skew_salt_factor_plan",
    oracle=f"""
        WITH f AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS freq
            FROM events GROUP BY event_type
        ),
        g AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f),
        plan AS (
            SELECT event_type, freq,
                   CAST(CEIL(CAST(g.total AS DOUBLE) / {SALT_TARGET_PARTS})
                        AS BIGINT) AS target_rows,
                   GREATEST(1, CAST(CEIL(CAST(freq AS DOUBLE) /
                       CEIL(CAST(g.total AS DOUBLE) / {SALT_TARGET_PARTS}))
                       AS BIGINT)) AS salt_k
            FROM f, g
        )
        SELECT event_type, freq, target_rows, salt_k,
               CAST(CEIL(CAST(freq AS DOUBLE) / salt_k) AS BIGINT)
                   AS max_salted_load,
               salt_k > 1 AS needs_salting
        FROM plan
    """,
    tags=("scale", "skew", "events"),
)
def skew_salt_factor_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALT-FACTOR PLANNING table: from the key-frequency census,
    derive per key the salt fan-out k = ⌈freq ÷ target⌉ that levels
    its rows across 32 partitions, and the resulting worst partition
    load — the numbers you compute BEFORE keying a 100 TB shuffle
    (the executed two-path form: ``skew_hot_key_two_path_join`` r06;
    the frequency census alone: ``skew_key_frequency_profile``
    stock). One aggregate + a 1-row broadcast; every output is exact
    integer arithmetic (CEIL of an exact ratio), output = |keys|
    rows."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    g = f.agg(F.sum("freq").cast("bigint").alias("total"))
    target = F.ceil(F.col("total").cast("double") / SALT_TARGET_PARTS).cast(
        "bigint"
    )
    plan = f.crossJoin(F.broadcast(g)).select(
        "event_type",
        "freq",
        target.alias("target_rows"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.col("freq").cast("double") / target).cast("bigint"),
        ).alias("salt_k"),
    )
    return plan.select(
        "event_type",
        "freq",
        "target_rows",
        "salt_k",
        F.ceil(F.col("freq").cast("double") / F.col("salt_k"))
        .cast("bigint")
        .alias("max_salted_load"),
        (F.col("salt_k") > 1).alias("needs_salting"),
    )


# ---------------------------------------------------------------------------
# skew: exact Gini imbalance of the key-frequency distribution
# ---------------------------------------------------------------------------


@query(
    "skew_key_gini_imbalance",
    oracle="""
        WITH f AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS freq
            FROM events GROUP BY user_id
        ),
        r AS (
            SELECT freq,
                   ROW_NUMBER() OVER (ORDER BY freq, user_id) AS i,
                   COUNT(*) OVER () AS n,
                   SUM(freq) OVER () AS tot
            FROM f
        )
        SELECT CAST(MAX(n) AS BIGINT)                       AS n_keys,
               CAST(MAX(tot) AS BIGINT)                     AS n_rows,
               CAST(MAX(tot) - MIN(freq) * MAX(n) AS BIGINT) AS excess_mass,
               ROUND(CAST(SUM((2 * i - n - 1) * freq) AS DOUBLE)
                     / (CAST(MAX(n) AS DOUBLE) * MAX(tot)), 6) AS gini
        FROM r
    """,
    tags=("scale", "skew", "events"),
)
def skew_key_gini_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-SKEW GINI: the Gini coefficient of the per-key row-count
    distribution via the exact rank formula Σ(2i−n−1)·f_i / (n·Σf) —
    0 = perfectly level shuffle, →1 = one hot key owns the stage (the
    scalar summary behind the per-key plan:
    ``skew_salt_factor_plan``; census: ``skew_key_frequency_profile``).
    The numerator is EXACT integer arithmetic, one float division at
    the end — bit-stable. The oracle states the textbook ranked-key
    form; the engine reads the SAME sum off the FREQUENCY LEDGER
    instead of ranking every key in one task (r11): keys tied at
    frequency v occupy c consecutive ranks after p lower-frequency
    keys, and the rank-sum over the tie group is invariant to the
    user_id tiebreak — Σ over the group of 2i·f = f·c·(2p+c+1) — so
    Σ(2i−n−1)·f = Σ f·c·(2p+c+1) − (n+1)·Σf, every term a per-ledger-
    row integer. The only unpartitioned window is the cumulative count
    over the ledger, whose size is bounded by DISTINCT frequency
    values (≤ max events per key), not by the key count."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    g = f.groupBy("freq").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = Window.orderBy("freq").rowsBetween(Window.unboundedPreceding, -1)
    led = g.withColumn("p", F.coalesce(F.sum("c").over(wcum), F.lit(0)))
    return led.agg(
        F.sum("c").alias("_n"),
        F.sum(F.col("freq") * F.col("c")).alias("_tot"),
        F.sum(
            F.col("freq") * F.col("c") * (2 * F.col("p") + F.col("c") + 1)
        ).alias("_s2"),
        F.min("freq").alias("_mn"),
    ).select(
        F.col("_n").cast("bigint").alias("n_keys"),
        F.col("_tot").cast("bigint").alias("n_rows"),
        (F.col("_tot") - F.col("_mn") * F.col("_n"))
        .cast("bigint")
        .alias("excess_mass"),
        F.round(
            (F.col("_s2") - (F.col("_n") + 1) * F.col("_tot")).cast("double")
            / (F.col("_n").cast("double") * F.col("_tot")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# skew: heavy-hitter census across log-spaced thresholds
# ---------------------------------------------------------------------------

SKEW_THRESH_BITS = 13  # thresholds 2^0 .. 2^12


@query(
    "skew_topk_threshold_sweep",
    oracle=f"""
        WITH per_key AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM per_key),
        thresholds AS (
            SELECT CAST(POWER(2, UNNEST(range(0, {SKEW_THRESH_BITS})))
                        AS BIGINT) AS threshold
        )
        SELECT t.threshold,
               CAST(COUNT(CASE WHEN p.n >= t.threshold THEN 1 END)
                    AS BIGINT) AS n_hot_keys,
               CAST(COALESCE(SUM(CASE WHEN p.n >= t.threshold
                                      THEN p.n END), 0) AS BIGINT)
                   AS events_covered,
               ROUND(CAST(COALESCE(SUM(CASE WHEN p.n >= t.threshold
                                             THEN p.n END), 0) AS DOUBLE)
                     / MAX(tot.n_total), 6) AS coverage_share
        FROM thresholds t CROSS JOIN per_key p CROSS JOIN tot
        GROUP BY t.threshold
    """,
    tags=("events", "skew", "scale", "report"),
)
def skew_topk_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY-HITTER THRESHOLD SWEEP: for every log-spaced cutoff 2⁰…2¹²,
    how many keys carry at least that many events and what share of
    ALL events they hold — the one-scan census that picks the salting
    cutoff (keys above the chosen threshold get salted; the coverage
    share is exactly the traffic the salting protects). Per-key counts
    reduce first (one shuffle, map-side combined); the 13-threshold
    sweep then runs over the KEY-COUNT frame (users-sized, never
    events-sized) as one small cross join. Exact integers + one final
    division (Gini form of the same census:
    ``skew_key_gini_imbalance``; the plan it feeds:
    ``skew_salt_factor_plan``)."""
    e = load_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = per_key.agg(F.sum("n").cast("bigint").alias("n_total"))
    thresholds = spark.range(SKEW_THRESH_BITS).select(
        F.pow(2.0, F.col("id")).cast("bigint").alias("threshold")
    )
    hot = F.when(F.col("n") >= F.col("threshold"), F.col("n"))
    return (
        thresholds.crossJoin(per_key)
        .crossJoin(F.broadcast(tot))
        .groupBy("threshold")
        .agg(
            F.count(hot).cast("bigint").alias("n_hot_keys"),
            F.coalesce(F.sum(hot), F.lit(0)).cast("bigint").alias(
                "events_covered"
            ),
            F.round(
                F.coalesce(F.sum(hot), F.lit(0)).cast("double")
                / F.max("n_total"),
                6,
            ).alias("coverage_share"),
        )
    )


# ---------------------------------------------------------------------------
# skew: salt effectiveness on the hottest key
# ---------------------------------------------------------------------------

SALT_N = 8


@query(
    "skew_salt_effectiveness",
    oracle=f"""
        WITH counts AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id
        ),
        hot AS (
            SELECT user_id FROM counts
            ORDER BY n DESC, user_id ASC LIMIT 1
        ),
        salted AS (
            SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {SALT_N} AS salt,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events WHERE user_id = (SELECT user_id FROM hot)
            GROUP BY salt
        ),
        spine AS (SELECT UNNEST(range({SALT_N})) AS salt),
        j AS (
            SELECT spine.salt, COALESCE(salted.n, 0) AS n
            FROM spine LEFT JOIN salted ON salted.salt = spine.salt
        ),
        m AS (SELECT CAST(MAX(n) AS BIGINT) AS mx, CAST(MIN(n) AS BIGINT) AS mn,
                     CAST(SUM(n) AS BIGINT) AS tot FROM j)
        SELECT CAST(j.salt AS BIGINT) AS salt, j.n,
               m.mx AS max_shard, m.mn AS min_shard,
               ROUND(CAST(m.mx AS DOUBLE) * {SALT_N} / m.tot, 6)
                   AS max_over_ideal
        FROM j, m
    """,
    tags=("skew", "scale", "events"),
)
def skew_salt_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALT EFFECTIVENESS report: take the HOTTEST key (max event
    count, id tiebreak), shard it with the portable md5 salt
    (mod SALT_N=8), and measure the result — per-shard counts on a
    full salt spine (an empty shard must surface as 0, not vanish),
    the max/min shard, and max-over-ideal (1.0 = perfectly even; the
    number that says whether the salt actually flattened the hot
    key). Complements ``skew_salt_factor_plan`` (chooses the factor)
    and the salted join/agg exemplars (use it) with the post-hoc
    effectiveness measurement. The hot-key selection is a
    deterministic ORDER BY + LIMIT 1 on a keyed count — at 100 TB
    this is the heavy-hitter output of the frequency profile, never a
    sort of the raw table. Pure integers plus one final ratio."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    hot = counts.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(1)
    from big_data_audio_classification_spark.operators.dedup import token_hash

    salt = token_hash(F.col("event_id").cast("string")) % SALT_N
    salted = (
        e.join(F.broadcast(hot.select("user_id")), "user_id")
        .select(salt.alias("salt"))
        .groupBy("salt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    spine = spark.range(SALT_N).select(F.col("id").cast("bigint").alias("salt"))
    j = spine.join(salted, "salt", "left").select(
        "salt", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
    )
    m = j.agg(
        F.max("n").cast("bigint").alias("max_shard"),
        F.min("n").cast("bigint").alias("min_shard"),
        F.sum("n").cast("bigint").alias("tot"),
    )
    return j.crossJoin(F.broadcast(m)).select(
        "salt",
        "n",
        "max_shard",
        "min_shard",
        F.round(
            F.col("max_shard").cast("double") * SALT_N / F.col("tot"), 6
        ).alias("max_over_ideal"),
    )


# ---------------------------------------------------------------------------
# skew: top-key concentration profile
# ---------------------------------------------------------------------------

SKEW_TOPK = 10


@query(
    "skew_topk_key_share",
    oracle=f"""
        WITH cnt AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        ),
        tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM cnt),
        rk AS (
            SELECT user_id, n_events,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id)
                        AS BIGINT) AS rk,
                   CAST(SUM(n_events) OVER (ORDER BY n_events DESC, user_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM cnt
        )
        SELECT rk, user_id, n_events,
               ROUND(CAST(n_events AS DOUBLE) / tot.total, 6) AS share,
               ROUND(CAST(cum AS DOUBLE) / tot.total, 6) AS cum_share
        FROM rk, tot WHERE rk <= {SKEW_TOPK}
    """,
    tags=("skew", "scale", "topk", "events"),
)
def skew_topk_key_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-KEY CONCENTRATION profile: the 10 heaviest user_ids with
    per-key and CUMULATIVE share of all events — the skew diagnosis
    that decides whether a shuffle needs salting (cum_share(10) ≈ 1
    means ten keys own the stage; the distribution-level siblings:
    ``skew_key_gini_imbalance`` for the Gini, ``skew_salt_
    effectiveness`` for the fix's effect). Counts and the running
    cumulative are exact integers (the int-window-sum is BIGINT-cast
    on the oracle side — the r05 HUGEINT fetch class); shares are
    one division each off the exact total. Full (count, user_id)
    tiebreak. 100 TB: one map-side-combinable count + a 10-row
    top-k — the profile itself never shuffles the fact table
    twice."""
    e = load_table(spark, sf_dir, "events")
    cnt = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    tot = cnt.agg(F.sum("n_events").cast("bigint").alias("total"))
    w = Window.orderBy(F.col("n_events").desc(), "user_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rk = cnt.select(
        F.row_number().over(w).cast("bigint").alias("rk"),
        "user_id",
        "n_events",
        F.sum("n_events").over(wc).cast("bigint").alias("cum"),
    )
    return (
        rk.filter(F.col("rk") <= SKEW_TOPK)
        .crossJoin(F.broadcast(tot))
        .select(
            "rk",
            "user_id",
            "n_events",
            F.round(F.col("n_events").cast("double") / F.col("total"), 6)
            .alias("share"),
            F.round(F.col("cum").cast("double") / F.col("total"), 6)
            .alias("cum_share"),
        )
    )
