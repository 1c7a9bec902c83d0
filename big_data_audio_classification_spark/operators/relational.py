"""Relational core: projections, filters, every join flavor, set ops.

Reference parity: the reference's only relational moves are a
scalar-predicate filter (``/root/reference/src/voice_classifier.py:103``),
a key dedup (``:104``) and a nested-loop interval join (``:126-134``).
Here each family is generalized to its idiomatic Spark form over the
driver tables; the interval/range join pattern (R24) appears as
``join_range_bands`` (broadcast non-equi join) — the 100 TB variant
bucket-joins instead (see operators/reference_pipeline.py).

Scale notes:
* Dimension sides of joins (region/nation/supplier, inline band dims) are
  explicitly ``broadcast()``-hinted — at 100 TB the fact side never
  shuffles for these joins.
* Fact-fact joins (orders ⋈ lineitem) rely on sort-merge + AQE; both
  sides are pre-partitioned on the join key by the shuffle, and AQE
  handles skew splitting.
* Filters are plain Column predicates on the scan → Catalyst pushes them
  into the parquet reader (verified in tests/test_plans.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# Flagship: pricing summary (scan → filter → agg → sort in one query).
# Exercises predicate pushdown, partial aggregation, and a tiny final sort.
# --------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
               ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
               ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
               ROUND(AVG(l_discount), 4)                                        AS avg_disc,
               COUNT(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("relational", "aggregate", "flagship"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Filter predicate family (R17 generalized): AND/OR/NOT, BETWEEN, IN,
# LIKE, IS NULL. All predicates sit directly on the scan → pushdown.
# --------------------------------------------------------------------------
@query(
    "filter_predicates",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_returnflag, l_linestatus
        FROM lineitem
        WHERE l_quantity BETWEEN 10 AND 20
          AND l_returnflag IN ('A', 'R')
          AND NOT (l_linestatus = 'O')
          AND (l_discount < 0.02 OR l_tax > 0.06)
          AND l_extendedprice IS NOT NULL
    """,
    tags=("relational", "filter"),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate filter; every conjunct is pushdown-eligible."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & ~(F.col("l_linestatus") == "O")
        & ((F.col("l_discount") < 0.02) | (F.col("l_tax") > 0.06))
        & F.col("l_extendedprice").isNotNull()
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus",
    )


@query(
    "filter_like_null",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE c_name LIKE '%1%' AND c_mktsegment IS NOT NULL
          AND c_acctbal >= 0
    """,
    tags=("relational", "filter"),
)
def filter_like_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE + null-check predicates."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_name").like("%1%")
        & F.col("c_mktsegment").isNotNull()
        & (F.col("c_acctbal") >= 0)
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "case_when_tiers",
    oracle="""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    ELSE 'high' END              AS price_tier,
               COUNT(*)                          AS n_orders,
               ROUND(SUM(o_totalprice), 2)       AS total
        FROM orders
        GROUP BY 1
        ORDER BY price_tier
    """,
    tags=("relational", "projection"),
)
def case_when_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN projection feeding an aggregate."""
    o = load_table(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        o.select(tier.alias("price_tier"), "o_totalprice")
        .groupBy("price_tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("price_tier")
    )


# --------------------------------------------------------------------------
# Join family. Dim joins broadcast; fact-fact joins sort-merge under AQE.
# --------------------------------------------------------------------------
@query(
    "join_inner_revenue_by_nation",
    oracle="""
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*)                                          AS n_items
        FROM customer
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        JOIN orders   ON o_custkey   = c_custkey
        JOIN lineitem ON l_orderkey  = o_orderkey
        WHERE r_name IN ('AMERICA', 'ASIA')
        GROUP BY n_name
        ORDER BY n_name
    """,
    tags=("relational", "join", "aggregate"),
)
def join_inner_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way inner join (TPC-H Q5 shape): broadcast dims, shuffle facts."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name").isin("AMERICA", "ASIA"))),
              n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


@query(
    "join_left_order_counts",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               COUNT(o_orderkey)                       AS n_orders,
               ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS spend
        FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_mktsegment
    """,
    tags=("relational", "join"),
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with zero orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@query(
    "join_right_order_customers",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               COUNT(o_orderkey)                        AS n_orders,
               ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS spend
        FROM orders
        RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_mktsegment
    """,
    tags=("relational", "join"),
)
def join_right_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every customer survives even with zero orders
    (mirror of ``join_left_order_counts`` with the build side flipped —
    SURVEY §2.B names inner/left/right/full explicitly). Catalyst plans
    right-outer as the mirrored left-outer; at scale prefer putting the
    preserved (smaller) side on the broadcastable side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@query(
    "join_full_outer_daily",
    oracle="""
        WITH od AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
                    FROM orders GROUP BY 1),
             sd AS (SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_ships
                    FROM lineitem GROUP BY 1)
        SELECT CAST(COALESCE(od.d, sd.d) AS VARCHAR) AS day,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(n_ships, 0)  AS n_ships
        FROM od FULL OUTER JOIN sd ON od.d = sd.d
    """,
    tags=("relational", "join"),
)
def join_full_outer_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated daily series."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    od = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    sd = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_ships")
    )
    return (
        od.join(sd, od.d == sd.d, "full_outer")
        .select(
            F.coalesce(od.d, sd.d).cast("string").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
        )
    )


@query(
    "join_semi_active_customers",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    tags=("relational", "join"),
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join ≡ EXISTS; no duplication of the left side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti_customers_without_orders",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("relational", "join"),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join ≡ NOT EXISTS."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_cross_region_status",
    oracle="""
        SELECT r_name, s.o_orderstatus AS status
        FROM region
        CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tags=("relational", "join"),
)
def join_cross_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny inputs (broadcast NLJ)."""
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status")
    ).distinct()
    return r.select("r_name").crossJoin(F.broadcast(s))


@query(
    "join_range_bands",
    oracle="""
        SELECT band, COUNT(*) AS n_orders, ROUND(AVG(o_totalprice), 4) AS avg_price
        FROM orders
        JOIN (VALUES ('low', 0.0, 60000.0),
                     ('mid', 60000.0, 180000.0),
                     ('high', 180000.0, 1e18)) AS bands(band, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
        ORDER BY band
    """,
    tags=("relational", "join", "range-join"),
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a broadcast band dimension — the
    R24 interval-join pattern (``/root/reference/src/voice_classifier.py:126-134``)
    in its Spark-native form: BroadcastNestedLoopJoin over a tiny dim.
    At 100 TB with a large dim, bucket both sides by floor(x/Δ) to turn
    this into an equi-join + residual predicate."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 60000.0), ("mid", 60000.0, 180000.0), ("high", 180000.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("band")
    )


@query(
    "join_self_same_day_pairs",
    oracle="""
        SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
        FROM orders a
        JOIN orders b
          ON a.o_custkey = b.o_custkey
         AND CAST(a.o_orderdate AS DATE) = CAST(b.o_orderdate AS DATE)
         AND a.o_orderkey < b.o_orderkey
    """,
    tags=("relational", "join"),
)
def join_self_same_day_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self equi-join with residual inequality predicate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    a, b = o.alias("a"), o.alias("b")
    return a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.d") == F.col("b.d"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    ).select(F.col("a.o_orderkey").alias("k1"), F.col("b.o_orderkey").alias("k2"))


# --------------------------------------------------------------------------
# Set operations + distinct (R18 generalized).
# --------------------------------------------------------------------------
@query(
    "set_union_segments",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
    tags=("relational", "setop"),
)
def set_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


@query(
    "set_intersect_segments",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    """,
    tags=("relational", "setop"),
)
def set_intersect_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two key sets — the set-op sibling of
    ``set_union_segments``; lowers to a distinct-aggregated semi-join
    (one shuffle on the key), never a cartesian."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    return a.intersect(b)


@query(
    "set_except_segments",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    """,
    tags=("relational", "setop"),
)
def set_except_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL EXCEPT (distinct): any row appearing in b is fully removed
    from a. ``df.subtract`` has exactly these semantics; the previous
    ``exceptAll().distinct()`` form kept a survivor when a value had
    higher multiplicity in a than b — correct only for unique keys."""
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    return a.subtract(b)


@query(
    "distinct_flag_status",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("relational", "setop", "dedup"),
)
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates (R18: the reference's discarded
    ``drop_duplicates(subset='speaker')`` at voice_classifier.py:104,
    here actually applied)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").dropDuplicates()


@query(
    "sql_frontdoor_revenue",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*)                     AS n_orders,
               ROUND(SUM(o_totalprice), 2)  AS total
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("relational", "sql"),
)
def sql_frontdoor_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: the identical ANSI text the oracle
    runs, executed via ``spark.sql`` over the catalog's temp views —
    same Catalyst plan as the DataFrame form (SQL and DataFrame APIs
    are two parsers over one optimizer)."""
    from big_data_audio_classification_spark.sources.catalog import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*)                     AS n_orders,
               ROUND(SUM(o_totalprice), 2)  AS total
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "sql_lateral_top_customer",
    oracle="""
        SELECT n.n_name, s.c_name, s.c_acctbal
        FROM nation n, LATERAL (
            SELECT c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name
            LIMIT 1
        ) s
    """,
    tags=("relational", "sql", "lateral"),
)
def sql_lateral_top_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 SQL surface): per nation,
    the single highest-balance customer. The lateral form is the SQL
    users write for per-row "top-N of a related table"; Catalyst
    decorrelates it into the same window/aggregate plan the DataFrame
    top-k-per-group produces — no per-row re-execution, one shuffle
    keyed by the correlation key. Same text runs on DuckDB verbatim."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, s.c_name, s.c_acctbal
        FROM nation n, LATERAL (
            SELECT c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name
            LIMIT 1
        ) s
        """
    )


@query(
    "sql_recursive_month_rollup",
    oracle="""
        WITH RECURSIVE m(mth) AS (
            SELECT 1
            UNION ALL
            SELECT mth + 1 FROM m WHERE mth < 12
        )
        SELECT m.mth,
               COUNT(o_orderkey)                        AS n_orders,
               ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total
        FROM m
        LEFT JOIN orders ON EXTRACT(MONTH FROM o_orderdate) = m.mth
        GROUP BY m.mth
        ORDER BY m.mth
    """,
    tags=("relational", "sql", "recursive"),
)
def sql_recursive_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 SQL surface): a generated month spine
    LEFT-JOINed to order rollups, so months with zero orders still
    appear — the standard "dense calendar axis" reporting shape. The
    recursion is driver-side tiny (12 rows); the fact-side plan is an
    ordinary pre-aggregated join, so the shape scales like any
    broadcast-dim join. Identical text runs on DuckDB."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE m(mth) AS (
            SELECT 1
            UNION ALL
            SELECT mth + 1 FROM m WHERE mth < 12
        )
        SELECT m.mth,
               COUNT(o_orderkey)                        AS n_orders,
               ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total
        FROM m
        LEFT JOIN orders ON EXTRACT(MONTH FROM o_orderdate) = m.mth
        GROUP BY m.mth
        ORDER BY m.mth
        """
    )


_SQL_EXISTS_CORRELATED = """
    SELECT c.c_custkey,
           c.c_mktsegment,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey)           AS n_orders,
           (SELECT ROUND(MAX(o.o_totalprice), 2) FROM orders o
            WHERE o.o_custkey = c.c_custkey)           AS max_price
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice >
                        (SELECT AVG(o2.o_totalprice) FROM orders o2))
"""


@query(
    "sql_exists_correlated",
    oracle=_SQL_EXISTS_CORRELATED,
    tags=("relational", "sql", "subquery"),
)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery SQL surface: correlated scalar subqueries
    (COUNT / MAX per outer row) and a correlated EXISTS whose predicate
    nests an uncorrelated scalar aggregate. Catalyst decorrelates all
    three into aggregate-then-join plans — no per-row re-execution, so
    the shape is two keyed joins at any scale, not O(rows) subquery
    runs. Identical text runs on DuckDB."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQL_EXISTS_CORRELATED)


@query(
    "sql_pipe_syntax",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT)    AS n,
               ROUND(AVG(o_totalprice), 2) AS avg_price
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("relational", "sql", "pipe"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`): the same logical plan as the
    traditional form, composed as a linear dataflow — parser sugar over
    the identical Catalyst pipeline (the oracle states the traditional
    spelling; both engines agree on the result)."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n, ROUND(AVG(o_totalprice), 2) AS avg_price
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


_SQL_GROUP_BY_ALL = """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)      AS sum_qty,
           COUNT(*)                       AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY ALL
    ORDER BY ALL
"""


@query(
    "sql_group_by_all",
    oracle=_SQL_GROUP_BY_ALL,
    tags=("relational", "sql", "spark4"),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB dialect surface):
    the IDENTICAL query text runs on both engines — non-aggregate
    select items become the grouping key, the full select list the
    ordering. Same Catalyst plan as the explicit form."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQL_GROUP_BY_ALL)


# exact integer cents: FLOOR of bit-identical doubles is engine-exact,
# while ROUND(x, 2) ties (x.xx5) split between Spark's decimal-string
# HALF_UP and DuckDB's binary rounding
_SQL_LATERAL_ALIAS = """
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice * 5) AS BIGINT)     AS fee_cents,
           fee_cents * 2                               AS fee_doubled,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT)
               - fee_cents                             AS net_cents
    FROM orders
    WHERE o_orderkey % 100 = 7
"""


@query(
    "sql_lateral_column_alias",
    oracle=_SQL_LATERAL_ALIAS,
    tags=("relational", "sql", "spark4"),
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark ≥3.4, DuckDB native): a select
    item referencing a sibling alias (`fee_cents * 2`) in the SAME select
    list — identical text on both engines; Catalyst inlines the alias,
    so the plan is a single Project, not nested subqueries."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_ALIAS)


# Shared verbatim by the Spark front door AND the DuckDB oracle — one
# ANSI text, two engines, hash-identical results.
_RECURSIVE_REACH_SQL = """
        WITH RECURSIVE bounds AS (SELECT MAX(c_custkey) AS nn FROM customer),
        edges AS (
            SELECT c_custkey AS src, 1 + (c_custkey * 48271) % nn AS dst
            FROM customer CROSS JOIN bounds
            WHERE 1 + (c_custkey * 48271) % nn <> c_custkey
            UNION ALL
            SELECT c_custkey, 1 + (c_custkey * 16807) % nn
            FROM customer CROSS JOIN bounds
            WHERE 1 + (c_custkey * 16807) % nn <> c_custkey
        ),
        reach AS (
            SELECT c_custkey AS node, 0 AS hop
            FROM customer WHERE c_custkey <= 3
            UNION ALL
            SELECT e.dst, r.hop + 1
            FROM reach r JOIN edges e ON e.src = r.node
            WHERE r.hop < 4
        )
        SELECT node, CAST(MIN(hop) AS INTEGER) AS min_hop
        FROM reach GROUP BY node
"""


@query(
    "sql_recursive_reachability",
    oracle=_RECURSIVE_REACH_SQL,
    tags=("relational", "sql", "recursive", "graph"),
)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-DRIVEN recursive CTE through the SQL front door (Spark 4.1
    UnionLoop execution): min-hop reachability over the key-derived
    referral graph, the recursion JOINING a real table each step — not
    just a generated spine (cf. sql_recursive_month_rollup). The ONE
    SQL text here is executed verbatim by BOTH engines, so the oracle
    row is a literal same-query cross-engine differential.

    The iterative-DataFrame twin (`graph_khop_reachability`) pins the
    equivalent hand-scheduled plan; this entry proves the declarative
    spelling lands on the same fixpoint. Each recursive step is an
    equi-join on src — the scale shape is one co-located join per hop,
    frontier-bounded."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_REACH_SQL)


@query(
    "sql_parameterized_identifier",
    oracle="""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM orders
        WHERE o_totalprice > 100000.0
        GROUP BY o_orderstatus
    """,
    tags=("relational", "sql", "parameterized"),
)
def sql_parameterized_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with the IDENTIFIER() clause (Spark 4 front
    door): the table name binds through ``IDENTIFIER(:tbl)`` and the
    predicate through a typed ``:thresh`` parameter — the
    injection-safe templating surface a query service exposes instead
    of string interpolation. The oracle states the fully-resolved
    query; binding must change nothing about the plan (same pushdown,
    same aggregate)."""
    from big_data_audio_classification_spark.sources.catalog import (
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :thresh
        GROUP BY o_orderstatus
        """,
        args={"tbl": "orders", "thresh": 100000.0},
    )


@query(
    "sql_pivot_clause",
    oracle="""
        SELECT o_orderpriority,
               ROUND(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
                                       THEN o_totalprice END), 0), 2) AS f_total,
               ROUND(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
                                       THEN o_totalprice END), 0), 2) AS o_total,
               ROUND(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
                                       THEN o_totalprice END), 0), 2) AS p_total
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("relational", "sql", "pivot", "orders"),
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (Spark 4 surface — the declarative sibling
    of the DataFrame ``groupBy().pivot()`` in ``agg_pivot_status``):
    revenue by priority pivoted wide over the three order statuses.
    The oracle states the engine-neutral conditional-aggregation
    desugaring, which is also the PHYSICAL plan Spark compiles PIVOT
    to — one map-side-combined aggregation, no extra shuffle for the
    pivot itself.

    Pivot values are enumerated literally (IN ('F','O','P')): at 100 TB
    an unenumerated pivot would need a distinct-scan planning pass, so
    the explicit list is the scale-safe form."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_for_pivot")
    return spark.sql(
        """
        SELECT o_orderpriority,
               ROUND(COALESCE(f_total, 0), 2) AS f_total,
               ROUND(COALESCE(o_total, 0), 2) AS o_total,
               ROUND(COALESCE(p_total, 0), 2) AS p_total
        FROM (
            SELECT o_orderpriority, o_orderstatus, o_totalprice
            FROM orders_for_pivot
        )
        PIVOT (
            SUM(o_totalprice)
            FOR o_orderstatus IN ('F' AS f_total, 'O' AS o_total, 'P' AS p_total)
        )
        """
    )


# --- round-5 carriers: first-time 'asof' and 'range-join' entries ----


@query(
    "join_asof_forward_view",
    oracle="""
        WITH s AS (SELECT event_id AS signup_id, user_id, ts
                   FROM events WHERE event_type = 'signup'),
             v AS (SELECT event_id AS view_id, user_id, ts
                   FROM events WHERE event_type = 'view'),
             j AS (SELECT s.signup_id, s.user_id, v.view_id,
                          v.ts AS view_ts,
                          ROW_NUMBER() OVER (
                              PARTITION BY s.signup_id
                              ORDER BY v.ts ASC, v.view_id ASC) AS rn
                   FROM s LEFT JOIN v
                     ON v.user_id = s.user_id AND v.ts >= s.ts)
        SELECT signup_id, user_id, view_id,
               CAST(view_ts AS VARCHAR) AS view_ts
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "events"),
)
def join_asof_forward_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas ``merge_asof(direction='forward')``):
    the EARLIEST view at or after each signup per user — the activation
    funnel question. Same single-shuffle union + carry plan as the
    backward as-of (``join_asof_purchase_click``) with the window
    running unbounded-FOLLOWING instead of preceding: events of both
    kinds interleave on (user, ts), and ``first_value(view ts)`` over
    the forward frame lands the match without any join explosion."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_view"),
        F.col("event_id").alias("view_id_src"),
        F.lit(None).cast("long").alias("signup_id"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_view"),
        F.lit(None).cast("long").alias("view_id_src"),
        F.col("event_id").alias("signup_id"),
    )
    # Forward frame: at equal ts the view must be visible to the signup
    # (ts >= s.ts is inclusive), so views sort BEFORE signups on ties;
    # among equal-ts views the smallest view_id wins, matching the
    # oracle's (ts ASC, view_id ASC) rank.
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(), F.col("is_view").desc(), F.col("view_id_src").asc()
        )
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = views.unionByName(signups).select(
        "signup_id",
        "user_id",
        "ts",
        F.first("view_id_src", ignorenulls=True).over(w).alias("view_id"),
        F.first(F.when(F.col("is_view") == 1, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("view_ts"),
        "is_view",
    )
    return carried.filter(F.col("is_view") == 0).select(
        "signup_id",
        "user_id",
        "view_id",
        F.col("view_ts").cast("string").alias("view_ts"),
    )


RANGE_BUCKET = 10.0  # bucket width for the bucketed points-in-intervals join


@query(
    "join_range_bucketed_points",
    oracle=f"""
        WITH iv AS (
            SELECT event_id % 50 AS iv_id,
                   CAST(event_id % 50 AS DOUBLE) * 2.0       AS lo,
                   CAST(event_id % 50 AS DOUBLE) * 2.0 + 15.0 AS hi
            FROM events GROUP BY event_id % 50
        )
        SELECT iv.iv_id,
               CAST(COUNT(e.event_id) AS BIGINT) AS n_points,
               ROUND(SUM(e.value), 4)            AS sum_value
        FROM iv LEFT JOIN events e
          ON e.value >= iv.lo AND e.value < iv.hi
        GROUP BY iv.iv_id
    """,
    tags=("relational", "join", "range-join", "scale", "events"),
)
def join_range_bucketed_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points-in-intervals range join in its BUCKETED (100 TB) form:
    quantize the value axis into width-Δ buckets, explode each interval
    onto the buckets it overlaps (bounded: ⌈len/Δ⌉+1 per interval),
    equi-join points on their bucket, then apply the exact [lo, hi)
    predicate as a residual filter. Spark executes a shuffled hash join
    keyed on the bucket — no broadcast-nested-loop (the plain
    non-equi form is ``join_range_bands``). The oracle states the
    SEMANTICS (plain non-equi join); the bucketing is pure plan
    strategy, invisible in the result."""
    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.select((F.col("event_id") % 50).alias("iv_id"))
        .distinct()
        .select(
            "iv_id",
            (F.col("iv_id").cast("double") * 2.0).alias("lo"),
            (F.col("iv_id").cast("double") * 2.0 + 15.0).alias("hi"),
        )
    )
    # interval → overlapped buckets (sequence is bounded by ⌈15/Δ⌉+1)
    iv_b = iv.select(
        "iv_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / RANGE_BUCKET),
                F.floor(F.col("hi") / RANGE_BUCKET),
            )
        ).alias("bucket"),
    )
    pts = ev.select(
        "event_id", "value", F.floor(F.col("value") / RANGE_BUCKET).alias("bucket")
    )
    hits = (
        iv_b.join(pts, "bucket")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    return (
        iv.select("iv_id")
        .join(hits, "iv_id", "left")
        .select(
            "iv_id",
            F.coalesce("n_points", F.lit(0).cast("bigint")).alias("n_points"),
            "sum_value",
        )
    )


# --- round-6 carriers: first-time 'asof' and 'range-join' entries ----

ASOF_TOL_S = 600  # nearest-match tolerance (seconds)


@query(
    "join_asof_nearest_tolerance",
    oracle=f"""
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS cid, user_id, ts
                   FROM events WHERE event_type = 'click'),
             j AS (SELECT p.purchase_id, p.user_id, c.cid,
                          c.ts AS cts,
                          ABS(epoch_us(c.ts) - epoch_us(p.ts)) AS adiff,
                          ROW_NUMBER() OVER (
                              PARTITION BY p.purchase_id
                              ORDER BY (c.cid IS NULL),
                                       ABS(epoch_us(c.ts) - epoch_us(p.ts)),
                                       c.ts ASC, c.cid ASC) AS rn
                   FROM p LEFT JOIN c
                     ON c.user_id = p.user_id
                    AND ABS(epoch_us(c.ts) - epoch_us(p.ts))
                        <= {ASOF_TOL_S} * 1000000)
        SELECT purchase_id, user_id,
               cid                     AS click_id,
               CAST(cts AS VARCHAR)    AS click_ts,
               CAST(adiff AS BIGINT)   AS diff_us
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "events"),
)
def join_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with tolerance (pandas ``merge_asof(
    direction='nearest', tolerance=...)``): the click closest in time to
    each purchase by the same user, within ±10 min, ties to the EARLIER
    click then the smaller click_id. Completes the as-of triptych
    (backward ``join_asof_purchase_click``, forward
    ``join_asof_forward_view``).

    Plan: the oracle's abs-diff rank needs a time-banded join; the
    Spark side instead runs the single-shuffle union + TWO window
    passes — a backward pass (clicks sort before same-ts purchases,
    click_id DESC so ``last`` lands the smallest id) carries the latest
    click at-or-before, a forward pass carries the earliest click
    at-or-after — then one CASE picks the nearer in-tolerance side.
    No join explosion: each purchase reads exactly two candidates."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_click"),
        F.col("event_id").alias("cid_src"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_click"),
        F.lit(None).cast("long").alias("cid_src"),
        F.col("event_id").alias("purchase_id"),
    )
    u = clicks.unionByName(purchases)
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc(),
                 F.col("cid_src").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").asc(),
                 F.col("cid_src").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("is_click") == 1, F.col("ts"))
    carried = u.select(
        "purchase_id",
        "user_id",
        "ts",
        "is_click",
        F.last("cid_src", ignorenulls=True).over(wb).alias("prev_id"),
        F.last(click_ts, ignorenulls=True).over(wb).alias("prev_ts"),
        F.first("cid_src", ignorenulls=True).over(wf).alias("next_id"),
        F.first(click_ts, ignorenulls=True).over(wf).alias("next_ts"),
    ).filter(F.col("is_click") == 0)
    tol_us = ASOF_TOL_S * 1_000_000
    pd_us = F.unix_micros("ts") - F.unix_micros("prev_ts")
    nd_us = F.unix_micros("next_ts") - F.unix_micros("ts")
    prev_ok = F.col("prev_ts").isNotNull() & (pd_us <= tol_us)
    next_ok = F.col("next_ts").isNotNull() & (nd_us <= tol_us)
    take_prev = prev_ok & (~next_ok | (pd_us <= nd_us))
    take_next = next_ok & ~take_prev
    return carried.select(
        "purchase_id",
        "user_id",
        F.when(take_prev, F.col("prev_id"))
        .when(take_next, F.col("next_id"))
        .alias("click_id"),
        F.when(take_prev, F.col("prev_ts"))
        .when(take_next, F.col("next_ts"))
        .cast("string")
        .alias("click_ts"),
        F.when(take_prev, pd_us)
        .when(take_next, nd_us)
        .cast("bigint")
        .alias("diff_us"),
    )


ORDER_ACTIVE_DAYS = 7  # each order is "active" for 7 days from order date


@query(
    "join_range_month_overlap",
    oracle=f"""
        WITH months AS (
            SELECT DISTINCT date_trunc('month', o_orderdate) AS m
            FROM orders
        ),
        ov AS (
            SELECT months.m,
                   o.o_orderkey,
                   epoch_us(LEAST(months.m + INTERVAL 1 MONTH,
                                  o.o_orderdate
                                  + INTERVAL {ORDER_ACTIVE_DAYS} DAY))
                   - epoch_us(GREATEST(months.m, o.o_orderdate)) AS ov_us
            FROM months JOIN orders o
              ON o.o_orderdate < months.m + INTERVAL 1 MONTH
             AND o.o_orderdate + INTERVAL {ORDER_ACTIVE_DAYS} DAY > months.m
        )
        SELECT CAST(m AS VARCHAR)                        AS month_start,
               CAST(COUNT(*) AS BIGINT)                  AS n_orders,
               CAST(SUM(ov_us) // 3600000000 AS BIGINT)  AS overlap_hours
        FROM ov GROUP BY m
    """,
    tags=("relational", "join", "range-join", "window-time", "orders"),
)
def join_range_month_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×calendar OVERLAP-LENGTH range join: each order is
    active for 7 days; per calendar month, how many active intervals
    overlap it and for how many total hours — the resource-occupancy
    rollup. The oracle states it as a raw range join; the Spark plan is
    the 100 TB BUCKETED form: an order's 7-day interval spans at most 2
    month buckets, so ``explode(sequence(month(start), month(end-1us)))``
    emits ≤2 candidate rows per order and the join is a pure EQUI-join
    on the month bucket (shuffle-hash, AQE-splittable) — no
    non-equi-condition nested loop anywhere. Sibling of
    ``join_range_bucketed_points`` (value-bucketed; certified r05),
    this is the time-bucketed variant."""
    # o_orderdate arrives TIMESTAMP_NTZ; integer epoch math needs the
    # session-UTC TIMESTAMP form (same normalization load_table applies
    # to events.ts).
    o = load_table(spark, sf_dir, "orders").withColumn(
        "odate", F.col("o_orderdate").cast("timestamp")
    )
    end_ts = F.timestamp_micros(
        F.unix_micros("odate") + ORDER_ACTIVE_DAYS * 86_400_000_000
    )
    months = o.select(
        F.date_trunc("month", "odate").alias("m")
    ).distinct()
    cand = o.select(
        "o_orderkey",
        "odate",
        end_ts.alias("end_ts"),
        F.explode(
            F.sequence(
                F.date_trunc("month", "odate"),
                F.date_trunc(
                    "month",
                    F.timestamp_micros(F.unix_micros(end_ts) - 1),
                ),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("m"),
    )
    ov_us = F.least(
        F.unix_micros(F.col("m") + F.expr("INTERVAL 1 MONTH")),
        F.unix_micros("end_ts"),
    ) - F.greatest(F.unix_micros("m"), F.unix_micros("odate"))
    return (
        cand.join(months, "m")
        .select("m", ov_us.alias("ov_us"))
        .filter(F.col("ov_us") > 0)
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            # exact integer floor-division mirroring the oracle's `//` —
            # Spark `/` is double math and only stays exact here while
            # every boundary is midnight-aligned (advice r06)
            F.expr("SUM(ov_us) DIV 3600000000")
            .cast("bigint")
            .alias("overlap_hours"),
        )
        .select(
            F.date_format("m", "yyyy-MM-dd").alias("month_start"),
            "n_orders",
            "overlap_hours",
        )
    )


# --- round-7 spare carriers: asof / setop / grouping / range-join ----

LOCF_GRID_HOURS = 6  # grid step for the carry-forward alignment


@query(
    "join_asof_locf_grid",
    oracle=f"""
        WITH grid AS (
            SELECT u.user_id, g.gts
            FROM (SELECT DISTINCT user_id FROM events) u,
                 (SELECT UNNEST(generate_series(
                      TIMESTAMP '2024-01-01 00:00:00',
                      TIMESTAMP '2024-01-30 18:00:00',
                      INTERVAL {LOCF_GRID_HOURS} HOUR)) AS gts) g
        ),
        j AS (
            SELECT grid.user_id, grid.gts, e.value, e.ts, e.event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY grid.user_id, grid.gts
                       ORDER BY (e.event_id IS NULL),
                                e.ts DESC, e.event_id DESC) AS rn
            FROM grid LEFT JOIN events e
              ON e.user_id = grid.user_id AND e.ts <= grid.gts
        )
        SELECT user_id,
               CAST(gts AS VARCHAR)     AS grid_ts,
               ROUND(value, 4)          AS locf_value,
               event_id                 AS src_event_id
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "events", "window-time"),
)
def join_asof_locf_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward GRID ALIGNMENT — the as-of
    join that turns an irregular event stream into a regular 6-hour
    panel (the feature-store snapshot shape). The oracle states it as
    a banded left join + rank; the Spark side runs the single-shuffle
    union + carry: grid rows and events interleave on (user, ts), one
    unbounded-PRECEDING window carries the latest event value/id onto
    every grid row (events sort before grid points at equal ts, and
    among equal-ts events the larger event_id wins, matching the
    oracle's ts DESC, event_id DESC rank). Completes the as-of family
    (backward / forward / nearest / grid).

    Scale: the grid is |users| × |grid points| rows — a constant per
    user — and the carry is the same one-shuffle window as every other
    as-of here; no time-banded join ever forms."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    grid_pts = spark.sql(
        f"""SELECT explode(sequence(
                TIMESTAMP '2024-01-01 00:00:00',
                TIMESTAMP '2024-01-30 18:00:00',
                INTERVAL {LOCF_GRID_HOURS} HOURS)) AS gts"""
    )
    grid = users.crossJoin(F.broadcast(grid_pts)).select(
        "user_id",
        F.col("gts").alias("ts"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("double").alias("value_src"),
        F.lit(None).cast("long").alias("event_id_src"),
    )
    evs = ev.select(
        "user_id",
        "ts",
        F.lit(1).alias("is_event"),
        F.col("value").alias("value_src"),
        F.col("event_id").alias("event_id_src"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_event").desc(),
                 F.col("event_id_src").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = evs.unionByName(grid).select(
        "user_id",
        "ts",
        "is_event",
        F.last("value_src", ignorenulls=True).over(w).alias("locf_value"),
        F.last("event_id_src", ignorenulls=True).over(w).alias("src_event_id"),
    )
    return carried.filter(F.col("is_event") == 0).select(
        "user_id",
        F.col("ts").cast("string").alias("grid_ts"),
        F.round("locf_value", 4).alias("locf_value"),
        "src_event_id",
    )


@query(
    "set_symdiff_active_customers",
    oracle="""
        WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                       AND o_orderdate <  TIMESTAMP '1996-01-01'),
             y98 AS (SELECT DISTINCT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                       AND o_orderdate <  TIMESTAMP '1999-01-01')
        SELECT 'only_1995' AS cohort, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(o_custkey) AS BIGINT) AS min_key
        FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y98)
        UNION ALL
        SELECT 'only_1998', CAST(COUNT(*) AS BIGINT),
               CAST(MIN(o_custkey) AS BIGINT)
        FROM (SELECT o_custkey FROM y98 EXCEPT SELECT o_custkey FROM y95)
        UNION ALL
        SELECT 'both', CAST(COUNT(*) AS BIGINT),
               CAST(MIN(o_custkey) AS BIGINT)
        FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y98)
    """,
    tags=("relational", "setop", "orders"),
)
def set_symdiff_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort SYMMETRIC DIFFERENCE via set operators: customers active
    only in 1995, only in 1998, and in both — churn/retention triage
    as EXCEPT / INTERSECT (the distinct-set forms; the ALL-multiset
    forms live in ``set_except_intersect_all``). Each leg is one
    distinct-aggregate + hash set-op — no join explosion — and the
    3-row rollup makes the output scale-free."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "odate", F.col("o_orderdate").cast("timestamp")
    )
    y95 = o.filter(
        (F.col("odate") >= "1995-01-01") & (F.col("odate") < "1996-01-01")
    ).select("o_custkey").distinct()
    y98 = o.filter(
        (F.col("odate") >= "1998-01-01") & (F.col("odate") < "1999-01-01")
    ).select("o_custkey").distinct()

    def leg(name, df):
        return df.agg(
            F.lit(name).alias("cohort"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_custkey").cast("bigint").alias("min_key"),
        )

    return (
        leg("only_1995", y95.exceptAll(y98).distinct())
        .unionByName(leg("only_1998", y98.exceptAll(y95).distinct()))
        .unionByName(leg("both", y95.intersect(y98)))
    )


@query(
    "agg_groupingsets_mixed",
    oracle="""
        SELECT COALESCE(o_orderstatus, '<all>')    AS status,
               COALESCE(o_orderpriority, '<all>')  AS priority,
               CAST(GROUPING(o_orderstatus) * 2
                    + GROUPING(o_orderpriority) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT)            AS n,
               ROUND(SUM(o_totalprice), 2)         AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderpriority), ())
    """,
    tags=("aggregate", "grouping", "orders"),
)
def agg_groupingsets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with a NON-LATTICE selection — the
    fine-cell, one marginal, and grand total, deliberately skipping
    the (status) marginal that CUBE would emit — the report shape
    where each level is chosen, not derived. grouping_id disambiguates
    the '<all>' placeholder from a genuine value. One pass over the
    fact table (Spark expands sets map-side, same as the oracle)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gsets_in")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '<all>')    AS status,
               COALESCE(o_orderpriority, '<all>')  AS priority,
               CAST(grouping_id() AS BIGINT)       AS gid,
               CAST(COUNT(*) AS BIGINT)            AS n,
               ROUND(SUM(o_totalprice), 2)         AS total
        FROM orders_gsets_in
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderpriority), ())
        """
    )


OVD_ACTIVE_DAYS = 7  # interval length for the overlap-degree profile


@query(
    "join_range_overlap_degree",
    oracle=f"""
        WITH iv AS (
            SELECT o_orderkey AS k, o_orderdate AS s,
                   o_orderdate + INTERVAL {OVD_ACTIVE_DAYS} DAY AS e
            FROM orders WHERE o_orderkey % 20 = 0
        ),
        deg AS (
            SELECT a.k, COUNT(b.k) AS degree
            FROM iv a LEFT JOIN iv b
              ON a.k <> b.k AND a.s < b.e AND b.s < a.e
            GROUP BY a.k
        )
        SELECT CAST(degree AS BIGINT)      AS degree,
               CAST(COUNT(*) AS BIGINT)    AS n_intervals
        FROM deg GROUP BY degree
    """,
    tags=("relational", "join", "range-join", "orders"),
)
def join_range_overlap_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP-DEGREE profile: for each (sampled) order's
    7-day interval, how many sibling intervals overlap it, rolled into
    a degree histogram — the concurrency/occupancy distribution. The
    oracle states the raw self range-join; Spark runs the BUCKETED
    form: each interval explodes to its ≤2 month buckets, candidates
    pair within a bucket (equi-join), the exact overlap predicate
    prunes, and DISTINCT collapses pairs seen in both buckets. The
    histogram output is O(max degree) rows at any SF."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 20 == 0
    ).withColumn("odate", F.col("o_orderdate").cast("timestamp"))
    iv = o.select(
        F.col("o_orderkey").alias("k"),
        F.unix_micros("odate").alias("s"),
        (F.unix_micros("odate") + OVD_ACTIVE_DAYS * 86_400_000_000).alias("e"),
    )
    cand = iv.select(
        "k", "s", "e",
        F.explode(
            F.sequence(
                F.date_trunc("month", F.timestamp_micros("s")),
                F.date_trunc("month", F.timestamp_micros(F.col("e") - 1)),
            )
        ).alias("m"),
    )
    a, b = cand.alias("a"), cand.alias("b")
    overl = (
        a.join(
            b,
            (F.col("a.m") == F.col("b.m"))
            & (F.col("a.k") != F.col("b.k"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .select(F.col("a.k").alias("k"), F.col("b.k").alias("kb"))
        .distinct()
    )
    deg = (
        iv.join(overl, "k", "left")
        .groupBy("k")
        .agg(F.count("kb").alias("degree"))
    )
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals")
    )


# --- round-8 spare tranche: asof / setop / grouping / range-join -------

ASOF_LOOKBACK_S = 900  # backward-only tolerance (15 min)


@query(
    "join_asof_backward_tolerance",
    oracle=f"""
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                   FROM events WHERE event_type = 'purchase'),
             c AS (SELECT event_id AS cid, user_id, ts
                   FROM events WHERE event_type = 'click'),
             j AS (SELECT p.purchase_id, p.user_id, c.cid, c.ts AS cts,
                          ROW_NUMBER() OVER (
                              PARTITION BY p.purchase_id
                              ORDER BY (c.cid IS NULL),
                                       c.ts DESC, c.cid ASC) AS rn
                   FROM p LEFT JOIN c
                     ON c.user_id = p.user_id
                    AND c.ts <= p.ts
                    AND epoch_us(p.ts) - epoch_us(c.ts)
                        <= {ASOF_LOOKBACK_S} * 1000000)
        SELECT purchase_id, user_id,
               cid                   AS click_id,
               CAST(cts AS VARCHAR)  AS click_ts,
               cid IS NOT NULL       AS attributed
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "events"),
)
def join_asof_backward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a BOUNDED LOOKBACK (pandas
    ``merge_asof(direction='backward', tolerance=15min)``): the latest
    click at-or-before each purchase, but only if it happened within
    the attribution window — stale matches become NULL instead of
    leaking credit. Same single-shuffle union + backward carry as the
    unbounded form (``join_asof_purchase_click``), with the tolerance
    applied as a post-carry predicate — the carry itself never widens,
    so bounding the lookback costs zero extra plan. Among equal-ts
    clicks the smallest click_id wins (click_id DESC in the carry
    order, matching the oracle's ts DESC, cid ASC rank)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(1).alias("is_click"),
        F.col("event_id").alias("cid_src"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(0).alias("is_click"),
        F.lit(None).cast("long").alias("cid_src"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc(),
                 F.col("cid_src").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("is_click") == 1, F.col("ts"))
    carried = clicks.unionByName(purchases).select(
        "purchase_id", "user_id", "ts", "is_click",
        F.last("cid_src", ignorenulls=True).over(w).alias("prev_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("prev_ts"),
    ).filter(F.col("is_click") == 0)
    fresh = (
        F.col("prev_ts").isNotNull()
        & (
            F.unix_micros("ts") - F.unix_micros("prev_ts")
            <= ASOF_LOOKBACK_S * 1_000_000
        )
    )
    return carried.select(
        "purchase_id",
        "user_id",
        F.when(fresh, F.col("prev_id")).alias("click_id"),
        F.when(fresh, F.col("prev_ts")).cast("string").alias("click_ts"),
        fresh.alias("attributed"),
    )


@query(
    "set_union_vs_union_all",
    oracle="""
        WITH u_all AS (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        ),
        u_dist AS (SELECT DISTINCT o_custkey FROM u_all)
        SELECT CAST((SELECT COUNT(*) FROM u_all) AS BIGINT)   AS n_union_all,
               CAST((SELECT COUNT(*) FROM u_dist) AS BIGINT)  AS n_union_distinct,
               CAST((SELECT COUNT(*) FROM u_all)
                    - (SELECT COUNT(*) FROM u_dist) AS BIGINT) AS n_duplicates
    """,
    tags=("relational", "setop", "orders"),
)
def set_union_vs_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION vs UNION ALL semantics, measured: the multiset size, the
    distinct size, and the duplicate mass their difference exposes —
    the dedup-cost census every pipeline wants before choosing the
    operator (``union`` in Spark = UNION ALL; ``distinct()`` is the
    extra shuffle). One pass builds the multiset; the distinct leg is
    the only shuffle; output is one scale-free row."""
    o = load_table(spark, sf_dir, "orders")
    u_all = o.filter(F.col("o_orderstatus") == "F").select(
        "o_custkey"
    ).unionAll(
        o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    )
    n_all = u_all.agg(F.count(F.lit(1)).cast("bigint").alias("n_union_all"))
    n_dist = u_all.distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union_distinct")
    )
    return (
        n_all.crossJoin(F.broadcast(n_dist))
        .select(
            "n_union_all",
            "n_union_distinct",
            (F.col("n_union_all") - F.col("n_union_distinct"))
            .cast("bigint")
            .alias("n_duplicates"),
        )
    )


@query(
    "agg_rollup_time_hierarchy",
    oracle="""
        SELECT COALESCE(CAST(yr AS VARCHAR), '<all>')  AS year,
               COALESCE(CAST(qtr AS VARCHAR), '<all>') AS quarter,
               CAST(GROUPING(yr) * 2 + GROUPING(qtr) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT)                AS n,
               ROUND(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS total
        FROM (SELECT year(o_orderdate) AS yr,
                     quarter(o_orderdate) AS qtr,
                     CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders)
        GROUP BY ROLLUP (yr, qtr)
    """,
    tags=("aggregate", "grouping", "window-time", "orders"),
)
def agg_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the natural TIME hierarchy (year ⊃ quarter): the
    fiscal drill-down report in one pass — (year, quarter) cells, year
    subtotals, grand total — with grouping_id disambiguating the
    '<all>' placeholder (lattice sibling: ``agg_cube_share_of_total``;
    non-lattice: ``agg_groupingsets_mixed``). Hierarchical rollups are
    the cheap grouping-sets case: each level nests, so map-side
    partials combine across levels. Totals accumulate EXACT cents
    (DECIMAL(38,0)/HUGEINT — the grand-total cell spans the whole
    table, exactly where a float SUM's combine order varies with
    shuffle arrival and can flip a ROUND boundary, the flake class
    the r10-continuation sweep caught live in
    ``analytics_abc_pareto``); the only float is the final /100
    display division."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year(F.col("o_orderdate").cast("timestamp")).alias("yr"),
        F.quarter(F.col("o_orderdate").cast("timestamp")).alias("qtr"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    return (
        o.rollup("yr", "qtr")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("cents").cast("double") / 100.0, 2).alias("total"),
        )
        .select(
            F.coalesce(F.col("yr").cast("string"), F.lit("<all>")).alias(
                "year"
            ),
            F.coalesce(F.col("qtr").cast("string"), F.lit("<all>")).alias(
                "quarter"
            ),
            "gid",
            "n",
            "total",
        )
    )


@query(
    "join_range_log_bands_overlap",
    oracle="""
        WITH bands AS (
            SELECT b.b AS band_id,
                   POW(2.0, b.b)     AS lo,
                   POW(2.0, b.b + 2) AS hi
            FROM (SELECT UNNEST(range(9, 18)) AS b) b
        )
        SELECT band_id,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2)       AS total_in_band
        FROM bands LEFT JOIN orders o
          ON o.o_totalprice >= bands.lo AND o.o_totalprice < bands.hi
        GROUP BY band_id
    """,
    tags=("relational", "join", "range-join", "orders"),
)
def join_range_log_bands_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERLAPPING log-scale band join: each band spans two octaves
    ([2^b, 2^(b+2))), so every value lands in exactly two bands — a
    genuine interval join, not a disguised group-by. Spark runs the
    bucketed form: a value's candidate bands are floor(log2(v)) and
    floor(log2(v))−1 (derived map-side, 2 rows per order), joined to
    the 9-row band dim by EQUALITY with the exact predicate as the
    residual — no non-equi nested loop at any scale (linear-band
    sibling: ``join_range_bands``, broadcast non-equi, certified r01)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.range(9, 18).select(
        F.col("id").cast("int").alias("band_id"),
        F.pow(F.lit(2.0), F.col("id")).alias("lo"),
        F.pow(F.lit(2.0), F.col("id") + 2).alias("hi"),
    )
    lg = F.floor(F.log2("o_totalprice")).cast("int")
    cand = o.select(
        "o_orderkey", "o_totalprice",
        F.explode(F.array(lg, lg - 1)).alias("band_id"),
    )
    hits = cand.join(F.broadcast(bands), "band_id").filter(
        (F.col("o_totalprice") >= F.col("lo"))
        & (F.col("o_totalprice") < F.col("hi"))
    )
    return (
        bands.join(hits.select("band_id", "o_orderkey", "o_totalprice"),
                   "band_id", "left")
        .groupBy("band_id")
        .agg(
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_in_band"),
        )
    )


# ---------------------------------------------------------------------------
# asof: forward direction with bounded look-AHEAD
# ---------------------------------------------------------------------------

ASOF_FWD_TOLERANCE_S = 3600  # 1 h look-ahead window


@query(
    "join_asof_forward_tolerance",
    oracle=f"""
        WITH e AS (SELECT event_id AS error_id, user_id, ts
                   FROM events WHERE event_type = 'error'),
             p AS (SELECT event_id AS pid, user_id, ts
                   FROM events WHERE event_type = 'purchase'),
             j AS (SELECT e.error_id, e.user_id, p.pid, p.ts AS pts,
                          ROW_NUMBER() OVER (
                              PARTITION BY e.error_id
                              ORDER BY (p.pid IS NULL),
                                       p.ts ASC, p.pid ASC) AS rn
                   FROM e LEFT JOIN p
                     ON p.user_id = e.user_id
                    AND p.ts >= e.ts
                    AND epoch_us(p.ts) - epoch_us(e.ts)
                        <= {ASOF_FWD_TOLERANCE_S * 1000000})
        SELECT error_id, user_id,
               pid                  AS next_purchase_id,
               CAST(pts AS VARCHAR) AS next_purchase_ts,
               pid IS NOT NULL      AS recovered
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "events"),
)
def join_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with a bounded look-AHEAD (pandas
    ``merge_asof(direction='forward', tolerance=1h)``): the earliest
    purchase at-or-after each error event, NULL when the user never
    converts inside the window — the did-the-user-recover join. The
    mirror image of ``join_asof_backward_tolerance``: one union of the
    two event streams, one FORWARD carry window (first following
    value = last preceding value under ts DESC), tolerance as a
    post-carry predicate. Single shuffle keyed by user_id; the
    oracle's rank-over-left-join is the independent quadratic-free
    formulation. Among equal-ts purchases the smallest pid wins on
    both sides."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(1).alias("is_p"),
        F.col("event_id").alias("pid_src"),
        F.lit(None).cast("long").alias("error_id"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts",
        F.lit(0).alias("is_p"),
        F.lit(None).cast("long").alias("pid_src"),
        F.col("event_id").alias("error_id"),
    )
    # Forward carry = backward carry over ts DESC. At equal ts the
    # purchase must sort AFTER the error in carry order (>= semantics),
    # and among equal-ts purchases the SMALLEST pid must win -> order
    # purchases by pid DESC under the DESC scan so the last carried
    # value is the smallest pid.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_p").desc(),
                 F.col("pid_src").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p_ts = F.when(F.col("is_p") == 1, F.col("ts"))
    carried = purchases.unionByName(errors).select(
        "error_id", "user_id", "ts", "is_p",
        F.last("pid_src", ignorenulls=True).over(w).alias("next_id"),
        F.last(p_ts, ignorenulls=True).over(w).alias("next_ts"),
    ).filter(F.col("is_p") == 0)
    fresh = (
        F.col("next_ts").isNotNull()
        & (
            F.unix_micros("next_ts") - F.unix_micros("ts")
            <= ASOF_FWD_TOLERANCE_S * 1_000_000
        )
    )
    return carried.select(
        "error_id",
        "user_id",
        F.when(fresh, F.col("next_id")).alias("next_purchase_id"),
        F.when(fresh, F.col("next_ts")).cast("string").alias("next_purchase_ts"),
        fresh.alias("recovered"),
    )


# ---------------------------------------------------------------------------
# setop: multiset INTERSECT ALL / EXCEPT ALL census
# ---------------------------------------------------------------------------


@query(
    "set_multiset_intersect_except",
    oracle="""
        WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             u AS (SELECT o_custkey FROM orders
                   WHERE o_orderpriority = '1-URGENT'),
             ia AS (SELECT o_custkey FROM f INTERSECT ALL
                    SELECT o_custkey FROM u),
             ea AS (SELECT o_custkey FROM f EXCEPT ALL
                    SELECT o_custkey FROM u),
             id AS (SELECT o_custkey FROM f INTERSECT
                    SELECT o_custkey FROM u),
             ed AS (SELECT o_custkey FROM f EXCEPT
                    SELECT o_custkey FROM u)
        SELECT CAST((SELECT COUNT(*) FROM ia) AS BIGINT) AS n_intersect_all,
               CAST((SELECT COUNT(*) FROM ea) AS BIGINT) AS n_except_all,
               CAST((SELECT COUNT(*) FROM id) AS BIGINT) AS n_intersect_distinct,
               CAST((SELECT COUNT(*) FROM ed) AS BIGINT) AS n_except_distinct
    """,
    tags=("relational", "setop", "orders"),
)
def set_multiset_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations, measured: INTERSECT ALL / EXCEPT ALL
    (bag semantics — min/count-difference of multiplicities) against
    their DISTINCT forms on the same two order streams — the four
    cardinalities that separate Spark's ``intersectAll``/``exceptAll``
    from ``intersect``/``subtract`` (UNION census:
    ``set_union_vs_union_all``). Each leg is one shuffle keyed by the
    value; at 100 TB all four are count-aggregates over the same
    hash-partitioned exchange, reusable across legs. Output is one
    scale-free row."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    u = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")

    def n(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(alias))

    out = n(f.intersectAll(u), "n_intersect_all")
    for leg in (
        n(f.exceptAll(u), "n_except_all"),
        n(f.intersect(u), "n_intersect_distinct"),
        n(f.subtract(u), "n_except_distinct"),
    ):
        out = out.crossJoin(F.broadcast(leg))
    return out


# ---------------------------------------------------------------------------
# subquery: correlated above-the-customer-average filter, exact cents
# ---------------------------------------------------------------------------


@query(
    "subquery_correlated_above_avg",
    oracle="""
        WITH o AS (SELECT o_custkey, o_orderpriority,
                          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
                   FROM orders)
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_above,
               CAST(SUM(cents) AS BIGINT) AS cents_above
        FROM o
        WHERE cents * (SELECT COUNT(*) FROM o i
                       WHERE i.o_custkey = o.o_custkey)
              > (SELECT SUM(cents) FROM o i
                 WHERE i.o_custkey = o.o_custkey)
        GROUP BY o_orderpriority
    """,
    tags=("relational", "subquery", "orders"),
)
def subquery_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED scalar subquery — orders strictly above their own
    customer's average order value — decorrelated the way Catalyst
    (and every planner since Kim '82) rewrites it: one per-customer
    aggregate joined back, predicate applied post-join. The comparison
    is kept in EXACT integers (``cents * n > sum_cents`` instead of
    ``price > avg``), so the filter is ULP-proof on both engines; the
    oracle states the textbook correlated form. One aggregate + one
    equi-join keyed by customer — co-partitioned, no second shuffle
    at 100 TB."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("cents").alias("sum_cents"),
    )
    return (
        o.join(per_cust, "o_custkey")
        .filter(F.col("cents") * F.col("n_cust") > F.col("sum_cents"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_above"),
            F.sum("cents").cast("bigint").alias("cents_above"),
        )
    )


# ---------------------------------------------------------------------------
# range-join: point-in-interval, day-bucketed equi-join form
# ---------------------------------------------------------------------------

PII_WINDOW_H = 4  # clicks counted inside [signup, signup + 4h)


@query(
    "join_range_point_in_interval",
    oracle=f"""
        WITH s AS (SELECT event_id AS signup_id, user_id, ts,
                          epoch_us(ts) AS lo,
                          epoch_us(ts) + {PII_WINDOW_H * 3600 * 1000000} AS hi
                   FROM events WHERE event_type = 'signup'),
             c AS (SELECT user_id, epoch_us(ts) AS t FROM events
                   WHERE event_type = 'click')
        SELECT s.signup_id, s.user_id,
               CAST(s.ts AS VARCHAR) AS signup_ts,
               CAST(COUNT(c.t) AS BIGINT) AS n_clicks_in_window
        FROM s LEFT JOIN c
          ON c.user_id = s.user_id AND c.t >= s.lo AND c.t < s.hi
        GROUP BY s.signup_id, s.user_id, s.ts
    """,
    tags=("relational", "join", "range-join", "events"),
)
def join_range_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-INTERVAL range join in the 100 TB form: clicks landing
    inside each signup's 4-hour activation window. A naive non-equi
    join degenerates to per-user nested loops; here both sides are
    bucketed by calendar DAY — a 4 h interval overlaps at most 2 day
    buckets, so each interval is exploded into ≤ 2 bucket rows and the
    join becomes an EQUI-join on (user_id, day) with the range
    predicate as a residual filter (same family as
    ``join_range_month_overlap``, point-vs-interval instead of
    interval-vs-interval). Left join keeps zero-click signups with an
    honest 0."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    window_us = PII_WINDOW_H * 3600 * 1_000_000
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts_t"),
        us.alias("lo"),
        (us + window_us).alias("hi"),
    )
    day_us = 86_400 * 1_000_000
    s_b = s.select(
        "*",
        F.explode(
            F.sequence(
                (F.col("lo") / day_us).cast("bigint"),
                # hi is exclusive: the last covered bucket is (hi-1) // day
                ((F.col("hi") - 1) / day_us).cast("bigint"),
            )
        ).alias("day_bucket"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        us.alias("t"),
        (us / day_us).cast("bigint").alias("day_bucket"),
    )
    hits = (
        s_b.join(
            c,
            (s_b.user_id == c.user_id)
            & (s_b.day_bucket == c.day_bucket)
            & (c.t >= s_b.lo)
            & (c.t < s_b.hi),
            "left",
        )
        .groupBy(
            "signup_id", s_b.user_id.alias("user_id"), "signup_ts_t", "lo"
        )
        .agg(F.count(c.t).cast("bigint").alias("n_bucket_clicks"))
    )
    # the ≤2-bucket explode duplicates the signup row; counts are
    # per-(signup, bucket) partial sums — re-aggregate to the interval
    return (
        hits.groupBy("signup_id", "user_id")
        .agg(
            F.max(F.col("signup_ts_t").cast("string")).alias("signup_ts"),
            F.sum("n_bucket_clicks").cast("bigint").alias("n_clicks_in_window"),
        )
        .select("signup_id", "user_id", "signup_ts", "n_clicks_in_window")
    )

# ---------------------------------------------------------------------------
# asof: cross-table as-of (orders pulled to the latest prior event)
# ---------------------------------------------------------------------------


@query(
    "join_asof_cross_table",
    oracle="""
        WITH o AS (SELECT o_orderkey, o_custkey % 150 AS ch, o_orderdate AS ots
                   FROM orders WHERE o_orderkey % 20 = 0),
             e AS (SELECT user_id AS ch, ts, event_id, value FROM events),
             j AS (SELECT o.o_orderkey, o.ch, e.event_id, e.value,
                          ROW_NUMBER() OVER (
                              PARTITION BY o.o_orderkey
                              ORDER BY (e.event_id IS NULL),
                                       e.ts DESC, e.event_id DESC) AS rn
                   FROM o LEFT JOIN e
                     ON e.ch = o.ch AND e.ts <= o.ots)
        SELECT o_orderkey, CAST(ch AS BIGINT) AS channel,
               event_id                       AS last_event_id,
               CASE WHEN event_id IS NOT NULL
                    THEN ROUND(value, 2) END  AS last_value,
               event_id IS NOT NULL           AS matched
        FROM j WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "events", "orders"),
)
def join_asof_cross_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE as-of: every 20th order pulls the LATEST event
    at-or-before its order date on its (hash-mapped) channel — the
    fact-to-telemetry enrichment join (same-table as-ofs:
    backward/nearest/forward/LOCF family). Same single-shuffle
    union + backward-carry plan keyed by channel; among equal-ts
    events the LARGEST event_id wins (stated identically in the
    oracle's rank). The left join keeps orders on channels with no
    prior events — honest NULLs, `matched` says so."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 20 == 0
    ).select(
        "o_orderkey",
        (F.col("o_custkey") % 150).alias("ch"),
        F.col("o_orderdate").alias("ts"),
        F.lit(0).alias("is_e"),
        F.lit(None).cast("long").alias("eid_src"),
        F.lit(None).cast("double").alias("val_src"),
    )
    e = load_table(spark, sf_dir, "events").select(
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("user_id").alias("ch"),
        "ts",
        F.lit(1).alias("is_e"),
        F.col("event_id").alias("eid_src"),
        F.col("value").alias("val_src"),
    )
    w = (
        Window.partitionBy("ch")
        .orderBy(F.col("ts").asc(), F.col("is_e").desc(), F.col("eid_src").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = o.unionByName(e).select(
        "o_orderkey", "ch", "is_e",
        F.last("eid_src", ignorenulls=True).over(w).alias("last_event_id"),
        F.last("val_src", ignorenulls=True).over(w).alias("lv"),
    ).filter(F.col("is_e") == 0)
    m = F.col("last_event_id").isNotNull()
    return carried.select(
        "o_orderkey",
        F.col("ch").cast("bigint").alias("channel"),
        "last_event_id",
        F.when(m, F.round(F.col("lv"), 2)).alias("last_value"),
        m.alias("matched"),
    )


# ---------------------------------------------------------------------------
# setop: semi/anti join census with the EXISTS equivalence
# ---------------------------------------------------------------------------


@query(
    "set_semi_anti_census",
    oracle="""
        WITH c AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderstatus = 'F'),
             u AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderpriority = '1-URGENT')
        SELECT CAST((SELECT COUNT(*) FROM c WHERE EXISTS
                     (SELECT 1 FROM u WHERE u.o_custkey = c.o_custkey))
                    AS BIGINT) AS n_semi,
               CAST((SELECT COUNT(*) FROM c WHERE NOT EXISTS
                     (SELECT 1 FROM u WHERE u.o_custkey = c.o_custkey))
                    AS BIGINT) AS n_anti,
               CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_left
    """,
    tags=("relational", "setop", "subquery", "orders"),
)
def set_semi_anti_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-SEMI / LEFT-ANTI census with the partition identity
    semi + anti = left — the join types behind every EXISTS / NOT
    EXISTS and the engine form of incremental-ingest dedup
    (``dedup_incremental_batch`` uses exactly the anti leg). Spark
    states them as join types; the oracle states the EXISTS forms —
    the decorrelation equivalence itself is the thing checked. Both
    legs are one equi-shuffle each at 100 TB, and the semi/anti
    variants ship only the key (no payload) through the exchange."""
    o = load_table(spark, sf_dir, "orders")
    c = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    u = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    semi = c.join(u, "o_custkey", "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_semi")
    )
    anti = c.join(u, "o_custkey", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anti")
    )
    left = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_left"))
    return semi.crossJoin(F.broadcast(anti)).crossJoin(F.broadcast(left))


# ---------------------------------------------------------------------------
# range-join: sessions contained in calendar weeks (bucketed containment)
# ---------------------------------------------------------------------------


@query(
    "join_range_week_containment",
    oracle=f"""
        WITH x AS (
            SELECT user_id, epoch_us(ts) AS t,
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
            SELECT user_id, t,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY t ROWS UNBOUNDED PRECEDING)
                       AS session_no
            FROM x
        ),
        sess AS (
            SELECT user_id, session_no,
                   MIN(t) AS lo, MAX(t) AS hi
            FROM s GROUP BY user_id, session_no
        ),
        -- epoch day 0 (1970-01-01) was a Thursday; align weeks to Monday
        wk AS (
            SELECT *, (lo // 86400000000 + 3) // 7 AS week_lo,
                      (hi // 86400000000 + 3) // 7 AS week_hi
            FROM sess
        )
        SELECT CAST(week_lo AS BIGINT)            AS week_idx,
               CAST(COUNT(*) AS BIGINT)           AS n_contained,
               CAST(SUM((hi - lo) // 1000000) AS BIGINT) AS contained_seconds
        FROM wk WHERE week_lo = week_hi
        GROUP BY week_lo
    """,
    tags=("relational", "join", "range-join", "events", "session"),
)
def join_range_week_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-IN-INTERVAL CONTAINMENT, bucket form: gap-sessionized
    intervals assigned to the Monday-aligned calendar week that fully
    CONTAINS them (week_lo == week_hi — a session spanning a week
    boundary belongs to no week) — the containment variant of the
    overlap family (``join_range_month_overlap`` r06,
    ``join_range_point_in_interval`` tranche 1). The week index is
    pure integer epoch-day arithmetic, so the 'join' to the week
    dimension degenerates to a groupBy on a computed key — the
    cheapest possible range join, and exactly what a 100 TB plan
    should reduce containment to when one side is a regular calendar
    grid. All integers."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    x = e.select(
        "user_id",
        t.alias("t"),
        F.when(
            F.lag(t).over(wo).isNull() | (t - F.lag(t).over(wo) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        x.select("user_id", "t", F.sum("new_s").over(ws).alias("session_no"))
        .groupBy("user_id", "session_no")
        .agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    )
    day_us = 86_400_000_000
    wk_lo = (F.col("lo") / day_us).cast("bigint") + 3
    wk_hi = (F.col("hi") / day_us).cast("bigint") + 3
    wk = sess.select(
        "*",
        (wk_lo / 7).cast("bigint").alias("week_lo"),
        (wk_hi / 7).cast("bigint").alias("week_hi"),
    )
    return (
        wk.filter(F.col("week_lo") == F.col("week_hi"))
        .groupBy(F.col("week_lo").cast("bigint").alias("week_idx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_contained"),
            F.sum(((F.col("hi") - F.col("lo")) / 1_000_000).cast("bigint"))
            .cast("bigint")
            .alias("contained_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# sql: the SQL PIVOT surface
# ---------------------------------------------------------------------------


@query(
    "sql_pivot_status_matrix",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                    AS BIGINT) AS f_n,
               CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                    AS BIGINT) AS o_n,
               CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END)
                    AS BIGINT) AS p_n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS f_cents
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("relational", "sql", "grouping", "orders"),
)
def sql_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``PIVOT`` clause surface: priority × status count/sum
    matrix written in Spark's native PIVOT syntax (``FROM ... PIVOT
    (agg FOR col IN (...))``) — the SQL-text form of the DataFrame
    ``pivot()`` certified in r02 (``agg_pivot_status``) — while the
    oracle states the universal conditional-aggregation rewrite every
    engine lowers PIVOT to. Exact integer cents; one shuffle, the IN
    list bounds the output columns statically (the 100 TB rule: never
    PIVOT on an unbounded value domain)."""
    load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).createOrReplaceTempView("sql_pivot_in")
    return spark.sql(
        """
        SELECT priority,
               coalesce(F_cnt, 0)   AS f_n,
               coalesce(O_cnt, 0)   AS o_n,
               coalesce(P_cnt, 0)   AS p_n,
               coalesce(F_cents, 0) AS f_cents
        FROM (
            SELECT * FROM (
                SELECT o_orderpriority AS priority, o_orderstatus, cents
                FROM sql_pivot_in
            )
            PIVOT (
                count(1) AS cnt, sum(cents) AS cents
                FOR o_orderstatus IN ('F' AS F, 'O' AS O, 'P' AS P)
            )
        )
        """
    ).select(
        "priority",
        F.col("f_n").cast("bigint").alias("f_n"),
        F.col("o_n").cast("bigint").alias("o_n"),
        F.col("p_n").cast("bigint").alias("p_n"),
        F.col("f_cents").cast("bigint").alias("f_cents"),
    )


# ---------------------------------------------------------------------------
# asof: k-th-prior as-of join (the lag-of-asof shape)
# ---------------------------------------------------------------------------


@query(
    "join_asof_second_prior",
    oracle="""
        WITH p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'click'
        ),
        j AS (
            SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
                   ROW_NUMBER() OVER (PARTITION BY p.event_id
                                      ORDER BY c.ts DESC, c.event_id DESC)
                       AS rn
            FROM p LEFT JOIN c
              ON c.user_id = p.user_id AND c.ts <= p.ts
        )
        SELECT purchase_id,
               CAST(COUNT(click_id) AS BIGINT)             AS n_prior_clicks,
               MAX(CASE WHEN rn = 2 THEN click_id END)     AS second_click_id,
               MAX(CASE WHEN rn = 2 THEN gap_us // 1000000 END)
                                                           AS second_gap_s
        FROM j GROUP BY purchase_id
    """,
    tags=("relational", "join", "asof", "events"),
)
def join_asof_second_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-TH-PRIOR as-of join (k=2): for every purchase, the SECOND most
    recent prior click by the same user — the "lag of as-of" shape
    behind features like "time since the click before the converting
    click" that a plain rn=1 as-of can't express. Purchases with fewer
    than two prior clicks keep their row with honest NULLs (the
    aggregate-over-ranked-join form — never a dropped left row). Gap
    in exact integer seconds (micros DIV 1e6). One user-keyed join +
    one partitioned window; the per-purchase rank frame is bounded by
    that user's click history (as-of family: ``join_asof_locf_grid``
    r08, ``join_asof_forward_tolerance`` r08,
    ``join_asof_purchase_click`` r01)."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    j = p.join(c, (p.user_id == c.user_id) & (c.cts <= p.pts), "left").select(
        "purchase_id",
        "click_id",
        (F.unix_micros("pts") - F.unix_micros("cts")).alias("gap_us"),
        F.row_number()
        .over(
            Window.partitionBy("purchase_id").orderBy(
                F.col("cts").desc(), F.col("click_id").desc()
            )
        )
        .alias("rn"),
    )
    return j.groupBy("purchase_id").agg(
        F.count("click_id").cast("bigint").alias("n_prior_clicks"),
        F.max(F.when(F.col("rn") == 2, F.col("click_id"))).alias(
            "second_click_id"
        ),
        F.max(
            F.when(F.col("rn") == 2, F.expr("gap_us DIV 1000000"))
        ).alias("second_gap_s"),
    )


# ---------------------------------------------------------------------------
# setop: overlap coefficient between two key sets
# ---------------------------------------------------------------------------


@query(
    "set_overlap_coefficient",
    oracle="""
        WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
                   WHERE o_orderstatus = 'F'),
        b AS (SELECT DISTINCT o_custkey AS k FROM orders
              WHERE o_orderstatus = 'O'),
        i AS (SELECT k FROM a INTERSECT SELECT k FROM b),
        s AS (
            SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
                   CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
                   CAST((SELECT COUNT(*) FROM i) AS BIGINT) AS n_inter
        )
        SELECT n_a, n_b, n_inter,
               ROUND(CAST(n_inter AS DOUBLE) / LEAST(n_a, n_b), 6)
                   AS overlap_coef,
               ROUND(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6)
                   AS jaccard
        FROM s
    """,
    tags=("relational", "setop", "orders"),
)
def set_overlap_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-SIMILARITY over key sets: customers with finished ('F') vs
    open ('O') orders — intersection size via INTERSECT, then the
    OVERLAP COEFFICIENT |A∩B|/min(|A|,|B|) (the containment-style
    measure that ignores size imbalance) next to Jaccard — the two
    numbers that disagree exactly when one set nests inside the other
    (the segment-migration diagnostic). Set ops lower to distinct-
    aggregated semi-joins (one shuffle each); the three counts are
    exact integers feeding two final float divisions. Output = 1 row
    at any SF (multiset siblings: ``set_multiset_intersect_except``,
    ``set_symdiff_active_customers`` r08)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    i = a.intersect(b)
    s = (
        a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
        .crossJoin(F.broadcast(b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))))
        .crossJoin(
            F.broadcast(i.agg(F.count(F.lit(1)).cast("bigint").alias("n_inter")))
        )
    )
    return s.select(
        "n_a",
        "n_b",
        "n_inter",
        F.round(
            F.col("n_inter").cast("double") / F.least("n_a", "n_b"), 6
        ).alias("overlap_coef"),
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# subquery: relational division (the "for all" query)
# ---------------------------------------------------------------------------


@query(
    "subquery_relational_division",
    oracle="""
        SELECT c.o_custkey AS custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders c
        WHERE NOT EXISTS (
            SELECT 1 FROM (SELECT DISTINCT o_orderpriority FROM orders) p
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.o_custkey
                  AND o.o_orderpriority = p.o_orderpriority
            )
        )
        GROUP BY c.o_custkey
    """,
    tags=("relational", "subquery", "orders"),
)
def subquery_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL DIVISION — the "customers who ordered at EVERY
    priority level" FOR-ALL query. The oracle states it in Codd's
    double-NOT-EXISTS form (the canonical universal quantification);
    the Spark plan uses the COUNTING equivalence — countDistinct
    priorities per customer == total distinct priorities — which is
    the form that scales (two aggregates + one 1-row broadcast,
    instead of nested correlated anti-joins). Two genuinely different
    formulations, one answer; per-customer order counts ride along.
    All integers."""
    o = load_table(spark, sf_dir, "orders")
    total = o.select(
        F.countDistinct("o_orderpriority").alias("n_prio")
    )
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.countDistinct("o_orderpriority").alias("n_prio_cust"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return (
        per_cust.crossJoin(F.broadcast(total))
        .filter(F.col("n_prio_cust") == F.col("n_prio"))
        .select("custkey", "n_orders")
    )


# ---------------------------------------------------------------------------
# range-join: coverage-gap anti form (days no interval covers)
# ---------------------------------------------------------------------------

COVER_DAYS = 7  # each order covers [o_orderdate, +7d)


@query(
    "join_range_coverage_gaps",
    oracle=f"""
        WITH span AS (
            SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi
            FROM orders
        ),
        grid AS (
            SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
            FROM span
        ),
        covered AS (
            SELECT DISTINCT o_orderdate
                       + (INTERVAL 1 DAY) * UNNEST(range(0, {COVER_DAYS}))
                       AS day
            FROM orders
        )
        SELECT strftime(g.day, '%Y-%m-%d') AS gap_day
        FROM grid g LEFT JOIN covered c ON g.day = c.day
        WHERE c.day IS NULL
    """,
    tags=("relational", "join", "range-join", "orders"),
)
def join_range_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVERAGE-GAP detection — the ANTI form of the interval join:
    which calendar days does NO active order interval (7 days from
    order date) cover? The monitoring query behind "did ingestion ever
    go dark". Instead of a non-equi anti-join (day BETWEEN start AND
    end — a nested loop at scale), each interval EXPLODES into its ≤7
    covered days (bounded fan-out) and the gap check is a pure
    equi-LEFT-ANTI against the day grid — the same bucketing
    discipline as ``join_range_month_overlap``. All dates; no floats.
    Output = gap days only (usually none at dense SFs — an empty
    result is the healthy answer, and the oracle agrees on emptiness
    bit-for-bit)."""
    o = load_table(spark, sf_dir, "orders")
    span = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    grid = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    covered = o.select(
        F.explode(
            F.sequence(
                F.col("o_orderdate"),
                F.col("o_orderdate")
                + F.expr(f"INTERVAL {COVER_DAYS - 1} DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    ).distinct()
    return grid.join(covered, "day", "left_anti").select(
        F.date_format("day", "yyyy-MM-dd").alias("gap_day")
    )


# ---------------------------------------------------------------------------
# sql: named WINDOW clause in SQL text
# ---------------------------------------------------------------------------


@query(
    "sql_named_window_clause",
    oracle="""
        SELECT o_custkey AS custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS seq,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey
                              ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS running_cents,
               CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT)
                   AS n_orders
        FROM orders
    """,
    tags=("relational", "sql", "window", "orders"),
)
def sql_named_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``WINDOW`` clause surface: three analytic functions
    share ONE named window definition (``WINDOW w AS (...)``) in Spark
    SQL text — the define-once-use-many syntax every migrating SQL
    workload carries — while the oracle states each OVER inline (the
    universal lowering). Same running-sum discipline as everywhere:
    exact integer cents, unique (date, orderkey) tiebreak on the
    frame order. One shuffle keyed by customer."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sql_named_window_in"
    )
    return spark.sql(
        """
        SELECT o_custkey AS custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER w_ord AS BIGINT) AS seq,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        OVER w_run AS BIGINT)          AS running_cents,
               CAST(COUNT(*) OVER w_all AS BIGINT)     AS n_orders
        FROM sql_named_window_in
        WINDOW w_ord AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey),
               w_run AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING),
               w_all AS (PARTITION BY o_custkey)
        """
    )

# ---------------------------------------------------------------------------
# asof: nearest-either-direction as-of join with tolerance
# ---------------------------------------------------------------------------

ASOF_NEAREST_TOL_US = 1_800_000_000  # 30 min, microseconds


@query(
    "join_asof_nearest_abs",
    oracle=f"""
        WITH e AS (SELECT event_id AS error_id, user_id, ts
                   FROM events WHERE event_type = 'error'),
        c AS (SELECT event_id AS cid, user_id, ts AS cts
              FROM events WHERE event_type = 'click'),
        back AS (
            SELECT e.error_id, e.user_id, e.ts, c.cid AS bcid, c.cts AS bts,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.error_id
                       ORDER BY (c.cid IS NULL), c.cts DESC, c.cid DESC) AS rn
            FROM e LEFT JOIN c
              ON c.user_id = e.user_id AND c.cts <= e.ts
             AND epoch_us(e.ts) - epoch_us(c.cts) <= {ASOF_NEAREST_TOL_US}
        ),
        fwd AS (
            SELECT e.error_id, c.cid AS fcid, c.cts AS fts,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.error_id
                       ORDER BY (c.cid IS NULL), c.cts ASC, c.cid ASC) AS rn
            FROM e LEFT JOIN c
              ON c.user_id = e.user_id AND c.cts >= e.ts
             AND epoch_us(c.cts) - epoch_us(e.ts) <= {ASOF_NEAREST_TOL_US}
        ),
        j AS (
            SELECT b.error_id, b.user_id, b.ts, b.bcid, b.bts, f.fcid, f.fts
            FROM (SELECT * FROM back WHERE rn = 1) b
            JOIN (SELECT * FROM fwd WHERE rn = 1) f USING (error_id)
        )
        SELECT error_id, user_id,
               CASE WHEN bcid IS NOT NULL AND (fcid IS NULL
                         OR epoch_us(ts) - epoch_us(bts)
                            <= epoch_us(fts) - epoch_us(ts)) THEN bcid
                    ELSE fcid END AS click_id,
               CASE WHEN bcid IS NOT NULL AND (fcid IS NULL
                         OR epoch_us(ts) - epoch_us(bts)
                            <= epoch_us(fts) - epoch_us(ts))
                         THEN epoch_us(ts) - epoch_us(bts)
                    WHEN fcid IS NOT NULL
                         THEN epoch_us(fts) - epoch_us(ts)
               END AS delta_us,
               CASE WHEN bcid IS NOT NULL AND (fcid IS NULL
                         OR epoch_us(ts) - epoch_us(bts)
                            <= epoch_us(fts) - epoch_us(ts)) THEN 'back'
                    WHEN fcid IS NOT NULL THEN 'fwd'
               END AS side
        FROM j
    """,
    tags=("relational", "join", "asof", "events"),
)
def join_asof_nearest_abs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas ``merge_asof(direction='nearest',
    tolerance=30min)``): each error event pairs with its closest click
    by |Δt| in EITHER direction, ties broken toward the PAST (the
    direction='nearest' convention), NULL when no click lands inside
    the tolerance. Deterministic candidate rule: backward = latest
    click at-or-before (equal-ts ties → largest click id), forward =
    earliest click at-or-after (ties → smallest id) — pinned
    identically on both engines. Spark computes BOTH carries from one
    unioned stream with two windows (clicks sort before errors at
    equal ts via a kind key, so a Δt=0 click is visible to both
    carries) — single shuffle keyed by user_id, O(1) window state; the
    oracle's two ranked left joins are the independent formulation.
    The tolerance is applied as a post-carry predicate, never a range
    join. Everything integer (epoch microseconds)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts"),
        F.lit(0).alias("kind"),
        F.col("event_id").alias("cid"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts"), F.lit(1).alias("kind"),
        F.col("event_id").alias("cid"),
    )
    s = clicks.unionByName(errors)
    us = F.unix_micros("ts")
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("kind").asc(), F.col("cid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("kind").asc(), F.col("cid").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("kind") == 0, F.col("cid"))
    click_us = F.when(F.col("kind") == 0, us)
    carried = s.select(
        "user_id", "ts", "kind", "cid", us.alias("us"),
        F.last(click_id, ignorenulls=True).over(wb).alias("bcid"),
        F.last(click_us, ignorenulls=True).over(wb).alias("bus"),
        F.last(click_id, ignorenulls=True).over(wf).alias("fcid"),
        F.last(click_us, ignorenulls=True).over(wf).alias("fus"),
    ).filter(F.col("kind") == 1)
    db = F.col("us") - F.col("bus")
    df_ = F.col("fus") - F.col("us")
    bok = F.col("bcid").isNotNull() & (db <= ASOF_NEAREST_TOL_US)
    fok = F.col("fcid").isNotNull() & (df_ <= ASOF_NEAREST_TOL_US)
    take_back = bok & (~fok | (db <= df_))
    return carried.select(
        F.col("cid").alias("error_id"),
        "user_id",
        F.when(take_back, F.col("bcid"))
        .when(fok, F.col("fcid"))
        .alias("click_id"),
        F.when(take_back, db).when(fok, df_).alias("delta_us"),
        F.when(take_back, F.lit("back"))
        .when(fok, F.lit("fwd"))
        .alias("side"),
    )


# ---------------------------------------------------------------------------
# setop: symmetric-difference census between two behavioral user sets
# ---------------------------------------------------------------------------


def _setops_sql(tbl: str) -> str:
    def users(t: str) -> str:
        return (
            f"SELECT DISTINCT user_id FROM {tbl} WHERE event_type = '{t}'"
        )

    return f"""
        SELECT n_click, n_purchase, n_both, n_click_only, n_purchase_only,
               n_union, n_click_only + n_purchase_only AS n_symdiff,
               ROUND(CAST(n_both AS DOUBLE) / n_union, 6) AS jaccard
        FROM (
            SELECT
                (SELECT COUNT(*) FROM ({users("click")}) x)    AS n_click,
                (SELECT COUNT(*) FROM ({users("purchase")}) x) AS n_purchase,
                (SELECT COUNT(*) FROM ({users("click")}
                    INTERSECT {users("purchase")}) x)          AS n_both,
                (SELECT COUNT(*) FROM ({users("click")}
                    EXCEPT {users("purchase")}) x)             AS n_click_only,
                (SELECT COUNT(*) FROM ({users("purchase")}
                    EXCEPT {users("click")}) x)                AS n_purchase_only,
                (SELECT COUNT(*) FROM ({users("click")}
                    UNION {users("purchase")}) x)              AS n_union
        ) t
    """


@query(
    "set_symmetric_diff_census",
    oracle=_setops_sql("events"),
    tags=("relational", "setop", "events"),
)
def set_symmetric_diff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-ALGEBRA CENSUS between two behavioral cohorts (clickers vs
    purchasers): INTERSECT / EXCEPT both ways / UNION cardinalities,
    the symmetric difference, and the Jaccard overlap — the
    audience-overlap report every segmentation pipeline runs, and the
    identity check A∖B + B∖A + 2·|A∩B| = |A| + |B| (asserted in the
    replay pytest). ONE SQL spec executed by BOTH engines (Catalyst
    decorrelates the six scalar subqueries into shared distinct-scans;
    DuckDB runs the same text) — the cross-check here is two
    optimizers executing one ANSI contract. Each set op is a keyed
    distinct-aggregate; nothing driver-sized moves. Jaccard is one
    float division of exact counts."""
    e = load_table(spark, sf_dir, "events")
    view = "v_setops_events_r9"
    e.createOrReplaceTempView(view)
    return spark.sql(_setops_sql(view))


# ---------------------------------------------------------------------------
# subquery: correlated EXISTS / NOT EXISTS census
# ---------------------------------------------------------------------------

BIG_ORDER_CENTS = 30_000_000  # $300k


def _exists_census_sql(ctbl: str, otbl: str) -> str:
    return f"""
        SELECT c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN EXISTS (
                       SELECT 1 FROM {otbl} o
                       WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
               CAST(SUM(CASE WHEN NOT EXISTS (
                       SELECT 1 FROM {otbl} o
                       WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders,
               CAST(SUM(CASE WHEN EXISTS (
                       SELECT 1 FROM {otbl} o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice * 100 >= {BIG_ORDER_CENTS})
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big_order,
               ROUND(CAST(SUM(CASE WHEN EXISTS (
                       SELECT 1 FROM {otbl} o
                       WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                                                  AS active_share
        FROM {ctbl} c
        GROUP BY c.c_mktsegment
    """


@query(
    "subquery_exists_census",
    oracle=_exists_census_sql("customer", "orders"),
    tags=("relational", "subquery", "sql", "orders"),
)
def subquery_exists_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS census per market segment: how
    many customers have any order, none, or at least one big-ticket
    order — three correlated subqueries folded into one grouped scan.
    ONE SQL spec executed by BOTH engines: the check here is
    Catalyst's subquery DECORRELATION (each EXISTS must rewrite to a
    semi/anti hash join keyed on custkey — asserted in
    tests/test_plans.py; a correlated re-execution per customer row
    would be the 100 TB disaster) against DuckDB's independent
    decorrelator. Counts exact; active_share is one float division.
    Output is |segments| rows."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_exists_cust_r9"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_exists_ord_r9"
    )
    return spark.sql(_exists_census_sql("v_exists_cust_r9", "v_exists_ord_r9"))


# ---------------------------------------------------------------------------
# range-join: order-window × calendar-week overlap length
# ---------------------------------------------------------------------------

ORDER_WINDOW_DAYS = 7  # each order is "active" for [d, d+6]


@query(
    "join_range_overlap_days",
    oracle=f"""
        WITH o AS (
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0,
                   CAST(o_orderdate AS DATE)
                       + INTERVAL {ORDER_WINDOW_DAYS - 1} DAY AS d1
            FROM orders
        ),
        weeks AS (
            SELECT DISTINCT CAST(date_trunc('week', x) AS DATE) AS wk
            FROM (SELECT d0 AS x FROM o UNION ALL SELECT CAST(d1 AS DATE) FROM o)
        ),
        ov AS (
            SELECT w.wk,
                   date_diff('day',
                       GREATEST(CAST(o.d0 AS TIMESTAMP), CAST(w.wk AS TIMESTAMP)),
                       LEAST(CAST(o.d1 AS TIMESTAMP),
                             CAST(w.wk + INTERVAL 6 DAY AS TIMESTAMP)))
                       + 1 AS days
            FROM o JOIN weeks w
              ON CAST(w.wk AS TIMESTAMP) <= CAST(o.d1 AS TIMESTAMP)
             AND CAST(w.wk + INTERVAL 6 DAY AS TIMESTAMP)
                 >= CAST(o.d0 AS TIMESTAMP)
        )
        SELECT strftime(wk, '%Y-%m-%d')     AS week_start,
               CAST(COUNT(*) AS BIGINT)     AS n_orders,
               CAST(SUM(days) AS BIGINT)    AS total_overlap_days
        FROM ov GROUP BY wk
    """,
    tags=("join", "range-join", "orders"),
)
def join_range_overlap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP-LENGTH range join: each order's 7-day active
    window against the calendar-week grid, reporting how many of its
    days land in each week — the prorating join behind week-bucketed
    capacity/revenue attribution (containment sibling:
    ``join_range_week_containment`` r08; gaps:
    ``join_range_coverage_gaps``). The two sides are INDEPENDENT
    formulations of the same overlap: the oracle joins on the range
    predicate directly, while Spark EXPLODES each order into its ≤ 2
    candidate week starts (``date_trunc`` of both endpoints,
    dedup'd) — the EQUI-join form that survives 100 TB (the candidate
    count is ceil(window/7)+1, a constant; no range predicate ever
    reaches the join). Overlap lengths are exact integer day
    arithmetic; the week grid derives from the data itself (no
    hardcoded calendar)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("d0"),
        F.date_add(F.to_date("o_orderdate"), ORDER_WINDOW_DAYS - 1).alias(
            "d1"
        ),
    )
    # candidate weeks via sequence(week(d0), week(d1), 7 days) — the
    # general ceil(window/7)+1 form (a hardcoded endpoint pair would
    # silently drop middle weeks if ORDER_WINDOW_DAYS grew past 8;
    # r09 close review)
    exploded = o.select(
        "o_orderkey",
        "d0",
        "d1",
        F.explode(
            F.expr(
                "sequence(to_date(date_trunc('week', d0)),"
                " to_date(date_trunc('week', d1)), interval 7 days)"
            )
        ).alias("wk"),
    )
    days = (
        F.datediff(
            F.least(F.col("d1"), F.date_add(F.col("wk"), 6)),
            F.greatest(F.col("d0"), F.col("wk")),
        )
        + 1
    )
    return (
        exploded.select(F.col("wk"), days.alias("days"))
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("days").cast("bigint").alias("total_overlap_days"),
        )
        .select(
            F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
            "n_orders",
            "total_overlap_days",
        )
    )


# ---------------------------------------------------------------------------
# asof + window-time: purchase latency since the user's prior error
# ---------------------------------------------------------------------------

ASOF_ERR_TOL_S = 3600  # backward tolerance: errors older than 1h don't match


@query(
    "join_asof_prior_error_latency",
    oracle=f"""
        WITH p AS (
            SELECT e.ts,
                   (SELECT MAX(e2.ts) FROM events e2
                    WHERE e2.user_id = e.user_id
                      AND e2.event_type = 'error'
                      AND e2.ts <= e.ts) AS prior_err
            FROM events e WHERE e.event_type = 'purchase'
        ),
        lat AS (
            SELECT to_timestamp((epoch_us(ts) // 3600000000) * 3600)
                       AS wstart,
                   CASE WHEN prior_err IS NOT NULL
                         AND epoch_us(ts) - epoch_us(prior_err)
                             <= {ASOF_ERR_TOL_S * 1_000_000}
                        THEN epoch_us(ts) - epoch_us(prior_err)
                        ELSE NULL END AS lat_us
            FROM p
        )
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
               CAST(COUNT(*) AS BIGINT)       AS n_purchases,
               CAST(COUNT(lat_us) AS BIGINT)  AS n_matched,
               CASE WHEN COUNT(lat_us) > 0
                    THEN ROUND(CAST(CAST(SUM(lat_us) AS HUGEINT) AS DOUBLE)
                               / COUNT(lat_us) / 1000000.0, 6)
                    ELSE NULL END AS mean_latency_sec
        FROM lat GROUP BY wstart
    """,
    tags=("join", "asof", "window-time", "events"),
)
def join_asof_prior_error_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKWARD AS-OF join + TUMBLING-WINDOW rollup in one operator:
    each purchase matches the same user's most recent error at-or-
    before it (1h tolerance), then hourly windows aggregate match rate
    and mean error→purchase latency — the incident-impact dashboard
    shape. The as-of rides the UNION + running ``last(ignorenulls)``
    formulation (one shuffle keyed by user, no pair explosion; ties
    ordered error-before-purchase then event_id so an equal-timestamp
    error is visible to the purchase); the oracle restates it as a
    correlated MAX subquery — independent formulations of the as-of
    contract. Latencies are EXACT integer microseconds; the sum
    accumulates in DECIMAL(38,0)/HUGEINT (Σ lat_us reaches 3.6e9 per
    row — int64 wraps past ~2.5e9 matched rows); the mean is one float
    division. Tumbling boundary = Spark ``window('1 hour')`` vs integer
    epoch floor-division. 100 TB: user-keyed shuffle + window-keyed
    aggregate, both AQE-coalesced; tolerance lives in the expression,
    never a WHERE that would drop unmatched purchases."""
    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prior = F.last(
        F.when(~F.col("is_p"), F.col("ts")), ignorenulls=True
    ).over(w)
    p = base.withColumn("prior_err", prior).filter(F.col("is_p"))
    lat_us = F.unix_micros("ts") - F.unix_micros("prior_err")
    lat = p.select(
        F.window("ts", "1 hour").alias("w"),
        F.when(
            F.col("prior_err").isNotNull()
            & (lat_us <= ASOF_ERR_TOL_S * 1_000_000),
            lat_us,
        ).alias("lat_us"),
    )
    agg = lat.groupBy(F.col("w.start").alias("wstart")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.count("lat_us").cast("bigint").alias("n_matched"),
        F.sum(F.col("lat_us").cast("decimal(38,0)")).alias("s"),
    )
    return agg.select(
        F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_purchases",
        "n_matched",
        F.when(
            F.col("n_matched") > 0,
            F.round(
                F.col("s").cast("double") / F.col("n_matched") / 1_000_000.0,
                6,
            ),
        ).alias("mean_latency_sec"),
    )


# ---------------------------------------------------------------------------
# setop: weekday-vs-weekend active-user set algebra per event type
# ---------------------------------------------------------------------------


@query(
    "set_except_weekday_weekend",
    oracle="""
        WITH wd AS (
            SELECT DISTINCT event_type, user_id FROM events
            WHERE dayofweek(ts) NOT IN (0, 6)
        ),
        we AS (
            SELECT DISTINCT event_type, user_id FROM events
            WHERE dayofweek(ts) IN (0, 6)
        ),
        wd_only AS (SELECT * FROM wd EXCEPT SELECT * FROM we),
        we_only AS (SELECT * FROM we EXCEPT SELECT * FROM wd),
        both_ AS (SELECT * FROM wd INTERSECT SELECT * FROM we)
        SELECT t.event_type,
               COALESCE(a.n, 0) AS n_weekday_only,
               COALESCE(b.n, 0) AS n_weekend_only,
               COALESCE(c.n, 0) AS n_both
        FROM (SELECT DISTINCT event_type FROM events) t
        LEFT JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                   FROM wd_only GROUP BY event_type) a
               ON t.event_type = a.event_type
        LEFT JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                   FROM we_only GROUP BY event_type) b
               ON t.event_type = b.event_type
        LEFT JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                   FROM both_ GROUP BY event_type) c
               ON t.event_type = c.event_type
    """,
    tags=("relational", "setop", "events"),
)
def set_except_weekday_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKDAY/WEEKEND audience set algebra: per event type, how many
    users act ONLY on weekdays (EXCEPT), only on weekends (reverse
    EXCEPT), or both (INTERSECT) — three true set operations over the
    composite (event_type, user_id) key, not boolean-flag aggregation
    in disguise: the operator under test is Spark's EXCEPT/INTERSECT
    DISTINCT rewrite (anti/semi hash joins after a distinct — visible
    in the plan) against DuckDB's native set operators. Day-of-week
    convention pinned cross-engine (Spark dayofweek = DuckDB
    dayofweek + 1, so weekend is Spark {1,7} / DuckDB {0,6} — the r05
    hazard class). Event types that lose every user to one side keep a
    zero row via the outer spine. 100 TB: each leg is one distinct on
    (type, user) — map-side combinable — and the set ops shuffle the
    deduplicated keys only."""
    e = load_table(spark, sf_dir, "events")
    dow = F.dayofweek("ts")  # 1=Sunday .. 7=Saturday
    wd = (
        e.filter(~dow.isin(1, 7)).select("event_type", "user_id").distinct()
    )
    we = e.filter(dow.isin(1, 7)).select("event_type", "user_id").distinct()
    wd_only = wd.exceptAll(we.intersect(wd))  # == EXCEPT DISTINCT on distinct inputs
    we_only = we.exceptAll(wd.intersect(we))
    both = wd.intersect(we)
    spine = e.select("event_type").distinct()

    def _cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias(name)
        )

    out = (
        spine.join(_cnt(wd_only, "n_weekday_only"), "event_type", "left")
        .join(_cnt(we_only, "n_weekend_only"), "event_type", "left")
        .join(_cnt(both, "n_both"), "event_type", "left")
    )
    return out.select(
        "event_type",
        F.coalesce("n_weekday_only", F.lit(0)).cast("bigint").alias("n_weekday_only"),
        F.coalesce("n_weekend_only", F.lit(0)).cast("bigint").alias("n_weekend_only"),
        F.coalesce("n_both", F.lit(0)).cast("bigint").alias("n_both"),
    )


# ---------------------------------------------------------------------------
# subquery + sql: correlated scalar subquery census
# ---------------------------------------------------------------------------


def _scalar_subquery_census_sql(ctbl: str, otbl: str) -> str:
    return f"""
        WITH cust AS (
            SELECT c.c_mktsegment AS segment, c.c_custkey,
                   (SELECT MAX(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    FROM {otbl} o
                    WHERE o.o_custkey = c.c_custkey) AS max_cents
            FROM {ctbl} c
        ),
        g AS (
            SELECT CAST(SUM(max_cents) AS DOUBLE) / COUNT(max_cents)
                       AS global_avg
            FROM cust
        )
        SELECT segment,
               CAST(COUNT(*) AS BIGINT)         AS n_customers,
               CAST(COUNT(max_cents) AS BIGINT) AS n_with_orders,
               CAST(SUM(CASE WHEN max_cents >
                                  (SELECT global_avg FROM g)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above_global_avg
        FROM cust GROUP BY segment
    """


@query(
    "subquery_scalar_correlated_census",
    oracle=_scalar_subquery_census_sql("customer", "orders"),
    tags=("relational", "subquery", "sql", "customer", "orders"),
)
def subquery_scalar_correlated_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED + UNCORRELATED SCALAR SUBQUERY census: each
    customer's biggest order via a correlated scalar subquery (NULL
    for order-less customers — the outer row must survive), compared
    against a global average computed by an UNCORRELATED scalar
    subquery, rolled up per market segment. ONE SQL spec executed by
    BOTH engines (sibling of ``subquery_exists_census``, which pins
    EXISTS decorrelation — this pins SCALAR-subquery decorrelation:
    Catalyst must rewrite the correlated MAX to an aggregate + outer
    join, and the global average to a broadcast scalar, or it
    re-executes per row). The average divides an EXACT bigint/HUGEINT
    cents sum by an exact count in one float division (never engine-
    side AVG of doubles — the r06 plan-order class; exactness holds
    to 2^53 cents ≈ $90 trillion of single-customer max orders).
    Counts exact."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_sub_cust_r10"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_sub_ord_r10"
    )
    return spark.sql(
        _scalar_subquery_census_sql("v_sub_cust_r10", "v_sub_ord_r10")
    )


# ---------------------------------------------------------------------------
# range-join: dual-banded (price x week) dimension join
# ---------------------------------------------------------------------------

# (band_id, price_lo, price_hi, week_lo, week_hi) — half-open on both
# axes; weeks are epoch-weeks (1995..2001 orders live in 1304..1648).
DUAL_BANDS = (
    (1, 0, 20_000_000, 1300, 1420),
    (2, 0, 20_000_000, 1420, 1540),
    (3, 0, 20_000_000, 1540, 1660),
    (4, 20_000_000, 35_000_000, 1300, 1480),
    (5, 20_000_000, 35_000_000, 1480, 1660),
    (6, 35_000_000, 10_000_000_000, 1300, 1480),
    (7, 35_000_000, 10_000_000_000, 1480, 1660),
)


def _dual_band_sql() -> str:
    rows = ", ".join(f"({b},{pl},{ph},{wl},{wh})" for b, pl, ph, wl, wh in DUAL_BANDS)
    return f"""
        WITH bands(band_id, price_lo, price_hi, week_lo, week_hi)
             AS (VALUES {rows}),
        o AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) // 7 AS wk
            FROM orders
        )
        SELECT CAST(b.band_id AS BIGINT) AS band_id,
               CAST(COUNT(o.cents) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(o.cents), 0) AS BIGINT) AS sum_cents
        FROM bands b LEFT JOIN o
          ON o.cents >= b.price_lo AND o.cents < b.price_hi
         AND o.wk >= b.week_lo AND o.wk < b.week_hi
        GROUP BY b.band_id
    """


@query(
    "join_range_dual_band",
    oracle=_dual_band_sql(),
    tags=("join", "range-join", "orders"),
)
def join_range_dual_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUAL-AXIS range join: every order lands in the band whose PRICE
    interval AND WEEK interval both contain it (half-open on both
    axes) — the 2-D banding a pricing-cohort report runs, and the
    compound-predicate case where a naive range join degenerates
    fastest (two inequality pairs, zero equi-keys). The dimension is
    7 literal rows → Spark's broadcast nested-loop is EXACTLY the
    right plan (the oracle's LEFT JOIN keeps empty bands alive, so a
    band the data never touches still shows 0 — the silent-empty-band
    review class). Weeks are exact integer epoch-DAY quotients
    (datediff/date_diff from 1970-01-01 then DIV 7 — date arithmetic,
    never unix_micros on a TIMESTAMP_NTZ column, which Spark rejects
    and session timezones would skew); cents exact.
    100 TB: with |bands| this small the scan stays map-only; a
    thousand-band version would band-bucket both sides to equi-keys
    first (join_range_bucketed_points pins that form)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        list(DUAL_BANDS),
        "band_id long, price_lo long, price_hi long, week_lo long, week_hi long",
    )
    ox = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') DIV 7")
        .alias("wk"),
    )
    j = F.broadcast(bands).join(
        ox,
        (F.col("cents") >= F.col("price_lo"))
        & (F.col("cents") < F.col("price_hi"))
        & (F.col("wk") >= F.col("week_lo"))
        & (F.col("wk") < F.col("week_hi")),
        "left",
    )
    return j.groupBy("band_id").agg(
        F.count("cents").cast("bigint").alias("n_orders"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# setop: three-way INTERSECT audience core
# ---------------------------------------------------------------------------


@query(
    "set_intersect_three_way",
    oracle="""
        WITH c AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'click'),
        v AS (SELECT DISTINCT user_id FROM events
              WHERE event_type = 'view'),
        p AS (SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase'),
        core AS (SELECT * FROM c INTERSECT SELECT * FROM v
                 INTERSECT SELECT * FROM p),
        cv AS (SELECT * FROM c INTERSECT SELECT * FROM v)
        SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT)    AS n_click,
               CAST((SELECT COUNT(*) FROM v) AS BIGINT)    AS n_view,
               CAST((SELECT COUNT(*) FROM p) AS BIGINT)    AS n_purchase,
               CAST((SELECT COUNT(*) FROM cv) AS BIGINT)   AS n_click_view,
               CAST((SELECT COUNT(*) FROM core) AS BIGINT) AS n_core,
               CAST((SELECT COUNT(*) FROM core) AS BIGINT) * 1000000
               // (SELECT COUNT(*) FROM c)                  AS core_ppm_of_click
    """,
    tags=("relational", "setop", "events"),
)
def set_intersect_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-WAY INTERSECT audience core: users who click AND view AND
    purchase — chained set intersection (the n-way generalization the
    two-way census family stops short of), plus the two-way
    click∩view step so the funnel of set sizes is visible in one row.
    The ppm share is EXACT integer arithmetic (×1e6 then integer
    division — no float division anywhere in this operator; the
    truncation convention is pinned by both engines' integer DIV).
    Spark chains ``.intersect`` (distinct semantics, compiled to
    left-semi hash joins after aggregation); DuckDB runs native
    INTERSECT. 100 TB: each leg is one distinct on user_id
    (map-side combinable); intersections shuffle deduplicated keys
    only."""
    e = load_table(spark, sf_dir, "events")

    def users(t: str) -> DataFrame:
        return e.filter(F.col("event_type") == t).select("user_id").distinct()

    c, v, p = users("click"), users("view"), users("purchase")
    cv = c.intersect(v)
    core = cv.intersect(p)
    row = (
        c.agg(F.count(F.lit(1)).cast("bigint").alias("n_click"))
        .crossJoin(v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase"))
        )
        .crossJoin(
            cv.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_view"))
        )
        .crossJoin(core.agg(F.count(F.lit(1)).cast("bigint").alias("n_core")))
    )
    return row.select(
        "*",
        F.expr("n_core * 1000000 DIV n_click").alias("core_ppm_of_click"),
    )

# ---------------------------------------------------------------------------
# asof: most recent signup strictly at-or-before each purchase
# ---------------------------------------------------------------------------

ASOF_SIGNUP_TOL_US = 14 * 86400 * 1_000_000  # 14 days


@query(
    "join_asof_prior_signup_lag",
    oracle=f"""
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                   FROM events WHERE event_type = 'purchase'),
        s AS (SELECT event_id AS sid, user_id, ts AS sts
              FROM events WHERE event_type = 'signup'),
        ranked AS (
            SELECT p.purchase_id, p.user_id, p.ts, s.sid, s.sts,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY (s.sid IS NULL), s.sts DESC, s.sid DESC) AS rn
            FROM p LEFT JOIN s
              ON s.user_id = p.user_id AND s.sts <= p.ts
             AND epoch_us(p.ts) - epoch_us(s.sts) <= {ASOF_SIGNUP_TOL_US}
        )
        SELECT purchase_id, user_id, sid AS signup_id,
               epoch_us(ts) - epoch_us(sts) AS lag_us
        FROM ranked WHERE rn = 1
    """,
    tags=("relational", "join", "asof", "events", "window-time"),
)
def join_asof_prior_signup_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKWARD AS-OF join purchase→signup: each purchase carries the
    user's LATEST signup at-or-before it within a 14-day tolerance
    (the attribution-window join — how long after signup do users
    convert), NULL lag when the signup predates the window. Spark
    computes the carry from one unioned stream with a single
    running-max window (signups sort before purchases at equal ts via
    a kind key, so a Δt=0 signup is visible), then applies the
    tolerance as a post-carry predicate — one shuffle keyed by
    user_id, O(1) window state, NEVER a range join; the oracle's
    ranked left join with the tolerance in ON (never WHERE — it must
    not kill preserved rows) is the independent formulation
    (house siblings: ``join_asof_nearest_abs``,
    ``join_asof_prior_error_latency``). Everything integer (epoch
    microseconds). 100 TB: the union shuffles once on user_id; skewed
    users are bounded by per-user event counts, not the join."""
    e = load_table(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.lit(0).alias("kind"),
        F.col("event_id").alias("eid"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"),
        F.col("event_id").alias("eid"),
    )
    s = signups.unionByName(purchases)
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("kind").asc(), F.col("eid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the latest signup (ts, id) seen so far; equal-ts ties break
    # toward the LARGEST signup id (the house backward convention)
    carried = s.withColumn(
        "carry",
        F.max(
            F.when(
                F.col("kind") == 0, F.struct(F.col("ts").alias("sts"), F.col("eid").alias("sid"))
            )
        ).over(w),
    )
    out = (
        carried.filter(F.col("kind") == 1)
        .select(
            F.col("eid").alias("purchase_id"),
            "user_id",
            us.alias("pus"),
            F.col("carry.sid").alias("sid"),
            F.unix_micros(F.col("carry.sts")).alias("sus"),
        )
        .withColumn(
            "in_tol",
            F.col("sid").isNotNull()
            & ((F.col("pus") - F.col("sus")) <= F.lit(ASOF_SIGNUP_TOL_US)),
        )
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.when(F.col("in_tol"), F.col("sid")).alias("signup_id"),
        F.when(F.col("in_tol"), F.col("pus") - F.col("sus")).alias("lag_us"),
    )


# ---------------------------------------------------------------------------
# subquery: quantified ANY/ALL comparisons
# ---------------------------------------------------------------------------


@query(
    "subquery_any_all_quantified",
    oracle="""
        WITH bench AS (
            SELECT o_totalprice AS p FROM orders
            WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        )
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_totalprice > ALL (SELECT p FROM bench)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_all,
               CAST(SUM(CASE WHEN o_totalprice > ANY (SELECT p FROM bench)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_any
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "subquery", "sql", "orders"),
)
def subquery_any_all_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTIFIED-COMPARISON census: per priority, how many orders
    price above ALL vs above ANY of the urgent-finished benchmark set
    — the > ALL / > ANY surface DuckDB evaluates natively while Spark
    SQL (which has no quantified comparisons) states the SAME
    predicate through scalar MAX/MIN subqueries: x > ALL S ⟺
    x > (SELECT MAX(p)), x > ANY S ⟺ x > (SELECT MIN(p)) — on a
    non-empty benchmark these are exactly equivalent, and the
    benchmark is non-empty at every SF (urgent+F orders exist; an
    empty set would make ALL vacuously true vs MAX NULL, which is why
    the docstring pins the non-empty contract). Price comparisons are
    raw parquet doubles on both engines (no arithmetic, so exact).
    Counts are exact ints. 100 TB: the benchmark extremes are a 1-row
    broadcast; the census is one map-side-combinable aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "anyall_orders_in"
    )
    return spark.sql(
        """
        WITH bench AS (
            SELECT MAX(o_totalprice) AS maxp, MIN(o_totalprice) AS minp
            FROM anyall_orders_in
            WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        )
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_totalprice > (SELECT maxp FROM bench)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_all,
               CAST(SUM(CASE WHEN o_totalprice > (SELECT minp FROM bench)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_gt_any
        FROM anyall_orders_in GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# range-join: containment nesting depth within a customer's intervals
# ---------------------------------------------------------------------------


@query(
    "join_range_nesting_depth",
    oracle="""
        WITH iv AS (
            SELECT o_orderkey, o_custkey,
                   CAST(date_diff('day', DATE '1970-01-01',
                                  CAST(o_orderdate AS DATE)) AS BIGINT) AS s,
                   CAST(date_diff('day', DATE '1970-01-01',
                                  CAST(o_orderdate AS DATE))
                        + o_orderkey % 7 + 1 AS BIGINT) AS e
            FROM orders
        )
        SELECT a.o_orderkey, a.o_custkey AS custkey,
               CAST(COUNT(*) AS BIGINT) AS depth
        FROM iv a JOIN iv b
          ON a.o_custkey = b.o_custkey
         AND a.o_orderkey <> b.o_orderkey
         AND b.s <= a.s AND a.e <= b.e
        GROUP BY a.o_orderkey, a.o_custkey
    """,
    tags=("join", "range-join", "orders"),
)
def join_range_nesting_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL CONTAINMENT DEPTH: how many of the SAME customer's
    other order intervals fully contain each order's interval
    ([orderdate, orderdate + key%7+1 days), half-open) — the nesting
    census an overlap auditor runs before flattening ranges (the
    overlap/point-in-interval siblings measure intersection; this is
    the strictly stronger ⊆ relation). Days are exact integer epoch
    quotients (date_diff — never unix_micros on the TIMESTAMP_NTZ
    order date, which Spark rejects). The self-join carries the
    EQUI-key o_custkey, so Spark shuffles both sides once on custkey
    and containment filters within ~10-row groups — never a cartesian
    (the r08 scale audit class); only contained orders emit (inner
    join + GROUP BY ≡ depth ≥ 1). 100 TB: per-customer groups are
    bounded, so the worst case is the largest single customer, not
    the table."""
    o = load_table(spark, sf_dir, "orders")
    day = F.expr(
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)"
    )
    iv = o.select(
        "o_orderkey",
        "o_custkey",
        day.alias("s"),
        (day + F.col("o_orderkey") % 7 + 1).cast("bigint").alias("e"),
    )
    a = iv.select(
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("s").alias("as_"),
        F.col("e").alias("ae"),
    )
    b = iv.select(
        F.col("o_orderkey").alias("b_orderkey"),
        F.col("o_custkey").alias("b_custkey"),
        F.col("s").alias("bs"),
        F.col("e").alias("be"),
    )
    j = a.join(
        b,
        (F.col("o_custkey") == F.col("b_custkey"))
        & (F.col("o_orderkey") != F.col("b_orderkey"))
        & (F.col("bs") <= F.col("as_"))
        & (F.col("ae") <= F.col("be")),
    )
    return j.groupBy(
        "o_orderkey", F.col("o_custkey").alias("custkey")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("depth"))


# ---------------------------------------------------------------------------
# sql: inline VALUES dimension joined to the fact table
# ---------------------------------------------------------------------------

PRIORITY_WEIGHTS = (
    ("1-URGENT", 5),
    ("2-HIGH", 4),
    ("3-MEDIUM", 3),
    ("4-NOT SPECIFIED", 2),
    ("5-LOW", 1),
    ("9-PHANTOM", 7),  # matches nothing: pins LEFT-JOIN zero semantics
)


def _values_sql() -> str:
    rows = ", ".join(f"('{p}', {w})" for p, w in PRIORITY_WEIGHTS)
    return f"""
        SELECT p.priority, p.weight,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COUNT(o.o_orderkey) AS BIGINT) * p.weight AS weighted_n,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)),
                             0) AS BIGINT) AS total_cents
        FROM (VALUES {rows}) p(priority, weight)
        LEFT JOIN orders o ON o.o_orderpriority = p.priority
        GROUP BY p.priority, p.weight
    """


@query(
    "sql_values_inline_table",
    oracle=_values_sql(),
    tags=("relational", "sql", "orders"),
)
def sql_values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INLINE ``VALUES`` DIMENSION joined to the fact table — the
    literal-table surface every SQL dialect ships but spells
    differently (Spark: ``FROM VALUES ... AS p(...)``; DuckDB:
    ``(VALUES ...) p(...)``), exercised end-to-end through a LEFT
    join so the dimension drives the result: a phantom priority row
    that matches nothing must still emit with zero counts (the
    silent-empty-group class — COUNT(col) not COUNT(*), COALESCE'd
    sum). Weighted count is exact integer arithmetic off the inline
    weight. 100 TB: a 6-row literal dimension is the canonical
    broadcast side; the fact scan aggregates map-side."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sqlvals_orders_in"
    )
    rows = ", ".join(f"('{p}', {w})" for p, w in PRIORITY_WEIGHTS)
    return spark.sql(
        f"""
        SELECT p.priority, p.weight,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COUNT(o.o_orderkey) AS BIGINT) * p.weight AS weighted_n,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)),
                             0) AS BIGINT) AS total_cents
        FROM VALUES {rows} AS p(priority, weight)
        LEFT JOIN sqlvals_orders_in o ON o.o_orderpriority = p.priority
        GROUP BY p.priority, p.weight
        """
    )
