"""Scalar-function exemplars: string, date/time, math, JSON, array.

Reference parity: string concat (R1, lorem join), date_format naming
(R10, ``data_generator.py:6-7``), log10/floor/round/pmod math
(R15/R6/R17/R3), array ops on waveforms (R6 slice, R7 flatten, R46
array argmax). All expressions here are built-in ``pyspark.sql.functions``
— JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table


@query(
    "scalar_string_functions",
    oracle="""
        SELECT c_custkey,
               UPPER(c_name)                                   AS name_upper,
               LOWER(c_mktsegment)                             AS seg_lower,
               SUBSTRING(c_name, 1, 8)                         AS name_prefix,
               LENGTH(c_name)                                  AS name_len,
               CONCAT_WS('|', c_name, c_mktsegment)            AS name_seg,
               REGEXP_EXTRACT(c_name, '([0-9]+)', 1)           AS name_digits,
               REPLACE(c_name, '#', '-')                       AS name_dash,
               TRIM(CONCAT(' ', c_name, ' '))                  AS name_trim
        FROM customer
    """,
    tags=("scalar", "string"),
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (R1's concat_ws and friends)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("name_seg"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dash"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("name_trim"),
    )


@query(
    "scalar_date_functions",
    oracle="""
        SELECT o_orderkey,
               YEAR(o_orderdate)                                    AS yr,
               MONTH(o_orderdate)                                   AS mon,
               DAYOFMONTH(o_orderdate)                              AS dom,
               STRFTIME(o_orderdate, '%Y-%m-%d')                    AS order_day,
               STRFTIME(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')  AS due_day,
               DATEDIFF('day', CAST(o_orderdate AS DATE),
                        DATE '2002-01-01')                          AS days_to_2002,
               STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start
        FROM orders
    """,
    tags=("scalar", "datetime"),
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time battery (R10's date_format naming generalized).
    Timestamp-valued outputs are formatted to strings so the DuckDB
    oracle compares text, not TZ-dependent instants."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mon"),
        F.dayofmonth(d).alias("dom"),
        F.date_format(d, "yyyy-MM-dd").alias("order_day"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias("due_day"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).alias("days_to_2002"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
    )


@query(
    "scalar_math_functions",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(l_extendedprice, 0)                       AS price_round,
               CAST(FLOOR(l_quantity) AS BIGINT)               AS qty_floor,
               CAST(CEIL(l_discount * 100) AS BIGINT)          AS disc_pct_ceil,
               ABS(l_quantity - 25)                            AS qty_dev,
               MOD(l_orderkey, 7)                              AS key_mod7,
               ROUND(SQRT(l_extendedprice), 4)                 AS price_sqrt,
               ROUND(LOG10(l_extendedprice + 1), 6)            AS price_log10,
               ROUND(POWER(l_quantity, 2), 2)                  AS qty_sq,
               GREATEST(l_discount, l_tax)                     AS max_rate,
               LEAST(l_discount, l_tax)                        AS min_rate
        FROM lineitem
    """,
    tags=("scalar", "math"),
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery: round/floor/ceil (R6/R17), pmod (R3), log10 (R15's
    dB math), greatest/least (R15's -80 dB floor)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("price_round"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.pmod("l_orderkey", F.lit(7)).alias("key_mod7"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 6).alias("price_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@query(
    "scalar_json_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        FROM events
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over ``events.props`` (mandated: SURVEY §1.2;
    at scale prefer ``from_json`` with an explicit schema once per column
    instead of repeated path probes)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


@query(
    "scalar_json_from_json_agg",
    oracle="""
        SELECT event_type,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_from_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parse (from_json with explicit schema — the scalable
    parse-once form) feeding an aggregate."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type",
        F.from_json("props", "k DOUBLE").alias("p"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.round(F.avg(F.col("p.k")), 4).alias("avg_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "array_embedding_stats",
    oracle="""
        SELECT vec_id,
               len(embedding)                                         AS dim,
               ROUND(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm,
               ROUND(CAST(embedding[1] AS DOUBLE), 6)                 AS first_elem,
               ROUND(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE))) / len(embedding), 6)    AS mean_elem
        FROM embeddings
    """,
    tags=("scalar", "array", "embeddings"),
)
def array_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over embedding vectors: size, element access,
    higher-order aggregate/transform (R46's array math family). All
    JVM-side — no Python UDF for vector norms."""
    em = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_norm = F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)
    mean = F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x) / F.size("embedding")
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(sq_norm, 4).alias("sq_norm"),
        F.round(F.element_at(dbl, 1), 6).alias("first_elem"),
        F.round(mean, 6).alias("mean_elem"),
    )


@query(
    "array_explode_tokens",
    oracle="""
        SELECT token, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS token
              FROM documents WHERE doc_id < 100)
        WHERE token <> ''
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 30
    """,
    tags=("scalar", "array", "documents"),
)
def array_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + explode + count: the word-count shape (generalizes R1's
    sentence assembly in reverse)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(30)
    )


@query(
    "array_sequence_slice",
    oracle="""
        SELECT vec_id,
               ROUND(list_sum(list_transform(embedding[1:8],
                     x -> CAST(x AS DOUBLE))), 4) AS head_sum,
               len(embedding[9:]) AS tail_len
        FROM embeddings
    """,
    tags=("scalar", "array", "embeddings"),
)
def array_sequence_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array slice (R6's truncate-to-whole-second as a slice) + tail."""
    em = load_table(spark, sf_dir, "embeddings")
    head = F.slice(F.col("embedding"), 1, 8)
    tail = F.slice(F.col("embedding"), 9, F.size("embedding") - F.lit(8))
    return em.select(
        "vec_id",
        F.round(
            F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 4
        ).alias("head_sum"),
        F.size(tail).alias("tail_len"),
    )


@query(
    "scalar_string_distance",
    oracle="""
        SELECT c_custkey,
               levenshtein(c_name, translate(c_name, '0', 'O')) AS lev_o,
               levenshtein(c_name, reverse(c_name))             AS lev_rev,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0')        AS padded_key,
               split_part(c_name, '#', 2)                       AS name_num,
               repeat(c_mktsegment, 2)                          AS seg_twice
        FROM customer
    """,
    tags=("scalar", "string", "fuzzy"),
)
def scalar_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance + structural string functions (SURVEY §2.B string
    family: levenshtein/translate/reverse/lpad/split_part/repeat). At
    scale levenshtein appears inside blocked fuzzy-dedup joins (see
    operators/dedup.py for the blocking patterns); here it's the scalar
    surface itself."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein("c_name", F.translate("c_name", "0", "O")).alias("lev_o"),
        F.levenshtein("c_name", F.reverse("c_name")).alias("lev_rev"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.repeat(F.col("c_mktsegment"), 2).alias("seg_twice"),
    )


@query(
    "scalar_variant_extract",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT)                                         AS sum_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("scalar", "json", "variant", "events"),
)
def scalar_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4 VariantType: ``parse_json``
    once into a binary-encoded variant, then typed ``try_variant_get``
    path reads. Versus string re-parsing (``get_json_object`` per path),
    the variant parses each document once into a shredded binary form —
    the 100 TB path for schema-flexible columns (and unlike
    ``from_json``, it needs no schema declared up front)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "scalar_null_handling",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               NULLIF(l_returnflag, 'N')                        AS flag_or_null,
               COALESCE(NULLIF(l_returnflag, 'N'), 'none')      AS flag_filled,
               CASE WHEN NULLIF(l_returnflag, 'N') IS NOT NULL
                    THEN 'has' ELSE 'missing' END               AS flag_nvl2,
               ROUND(CASE WHEN isnan(CASE WHEN l_discount < 0.005
                                          THEN 'NaN'::DOUBLE
                                          ELSE l_discount END)
                          THEN 0.0
                          ELSE CASE WHEN l_discount < 0.005
                                    THEN 'NaN'::DOUBLE
                                    ELSE l_discount END END, 4) AS disc_nan_fixed
        FROM lineitem
    """,
    tags=("scalar", "null"),
)
def scalar_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-propagation battery: nullif / coalesce / nvl2 / nanvl.
    The corpus tables are null-free by construction, so nulls (and a
    NaN) are introduced deterministically with nullif/when — the
    handling expressions are the operator under test. DuckDB has no
    nvl2/nanvl; the oracle spells them as CASE (same semantics)."""
    li = load_table(spark, sf_dir, "lineitem")
    flag_or_null = F.nullif(F.col("l_returnflag"), F.lit("N"))
    disc_with_nan = F.when(
        F.col("l_discount") < 0.005, F.lit(float("nan"))
    ).otherwise(F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        flag_or_null.alias("flag_or_null"),
        F.coalesce(flag_or_null, F.lit("none")).alias("flag_filled"),
        F.nvl2(flag_or_null, F.lit("has"), F.lit("missing")).alias("flag_nvl2"),
        F.round(F.nanvl(disc_with_nan, F.lit(0.0)), 4).alias("disc_nan_fixed"),
    )


@query(
    "scalar_regexp_functions",
    oracle="""
        SELECT event_id,
               regexp_extract(props, '[0-9]+', 0)             AS first_num,
               array_to_string(regexp_extract_all(props, '[0-9]+'), ',') AS all_nums,
               len(regexp_extract_all(props, '[0-9]+'))       AS n_nums,
               regexp_replace(props, '[0-9]', '#', 'g')       AS masked,
               regexp_matches(props, '"k": [0-9]{2}')         AS two_digit_k
        FROM events
    """,
    tags=("scalar", "string", "regexp", "events"),
)
def scalar_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex battery over the JSON-string props column: extract (group
    0 on both engines — Spark defaults to group 1, DuckDB to the full
    match), extract-all (serialized with array_join so the driver's
    pandas canonicalizer can hash the column — raw array cells are
    unhashable there), count, replace-all (Spark replaces all matches
    by default; DuckDB needs the 'g' flag), and rlike. All JVM regex —
    no Python."""
    e = load_table(spark, sf_dir, "events")
    p = F.col("props")
    return e.select(
        "event_id",
        F.regexp_extract(p, "[0-9]+", 0).alias("first_num"),
        F.array_join(F.regexp_extract_all(p, F.lit("[0-9]+"), 0), ",").alias(
            "all_nums"
        ),
        F.size(F.regexp_extract_all(p, F.lit("[0-9]+"), 0)).alias("n_nums"),
        F.regexp_replace(p, "[0-9]", "#").alias("masked"),
        p.rlike('"k": [0-9]{2}').alias("two_digit_k"),
    )


@query(
    "array_posexplode_outer",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN []::VARCHAR[]
                        ELSE list_filter(string_split(text, ' '),
                                         x -> x <> '')[1:3] END AS toks
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id, CAST(z[1] AS INT) AS pos, CAST(z[2] AS VARCHAR) AS tok
        FROM (SELECT doc_id, UNNEST(list_zip(range(0, len(toks)), toks)) AS z
              FROM t WHERE len(toks) > 0)
        UNION ALL
        SELECT doc_id, NULL AS pos, NULL AS tok FROM t WHERE len(toks) = 0
    """,
    tags=("scalar", "array", "explode", "documents"),
)
def array_posexplode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: positional explode that PRESERVES rows whose
    array is empty (null pos/tok) — the outer variant matters whenever
    the parent row must survive (joins back to doc metadata). Empty
    arrays are introduced deterministically (doc_id % 7)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.when(
        F.col("doc_id") % 7 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 1, 3))
    return d.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.posexplode_outer("toks").alias("pos", "tok")
    )


@query(
    "scalar_try_functions",
    oracle="""
        SELECT c_custkey,
               TRY_CAST(CASE WHEN c_custkey % 2 = 0
                             THEN regexp_extract(c_name, '([0-9]+)', 1)
                             ELSE c_name END AS INTEGER)     AS maybe_num,
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE ROUND(c_acctbal / (c_custkey % 3), 4) END AS safe_div,
               string_split(c_name, '#')[5]                  AS fifth_part
        FROM customer
    """,
    tags=("scalar", "ansi", "try"),
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safety battery: Spark 4 runs ANSI mode by default, so the
    idiomatic null-on-failure forms are the ``try_*`` functions —
    try_cast (malformed -> NULL instead of error), try_divide (x/0 ->
    NULL instead of error), try_element_at (out-of-bounds -> NULL).
    DuckDB spells them TRY_CAST / CASE-guarded divide / native
    out-of-bounds-NULL list indexing."""
    c = load_table(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0,
        F.regexp_extract("c_name", "([0-9]+)", 1),
    ).otherwise(F.col("c_name"))
    return c.select(
        "c_custkey",
        mixed.try_cast("int").alias("maybe_num"),
        F.round(
            F.try_divide("c_acctbal", F.col("c_custkey") % 3), 4
        ).alias("safe_div"),
        F.try_element_at(F.split("c_name", "#"), F.lit(5)).alias("fifth_part"),
    )


@query(
    "scalar_mask_redact",
    oracle="""
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(
                   c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
                   '[0-9]', 'n', 'g')                       AS masked,
               substr(c_name, 1, 9) ||
               regexp_replace(substr(c_name, 10), '[0-9]', 'n', 'g')
                                                            AS partial
        FROM customer
    """,
    tags=("scalar", "string", "masking", "governance", "customer"),
)
def scalar_mask_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (data-governance redaction): full ``mask()`` —
    uppercase→X, lowercase→x, digit→n, punctuation kept — plus the
    partial-reveal form that keeps a business prefix and masks the
    numeric tail. Pure codegen string kernels, map-only; the oracle
    states the same transform as regexp chains (DuckDB has no mask()).
    The pattern a 100 TB PII pass applies column-wise before data
    leaves the governed zone (the regex-driven scrub for free text is
    ``text_pii_scrub``)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("masked"),
        F.concat(
            F.substring("c_name", 1, 9),
            F.mask(
                F.expr("substring(c_name, 10)"),
                upperChar=F.lit("X"),
                lowerChar=F.lit("x"),
                digitChar=F.lit("n"),
                otherChar=F.lit(None),
            ),
        ).alias("partial"),
    )


@query(
    "scalar_collation_ci",
    oracle="""
        WITH m AS (
            SELECT CASE WHEN c_custkey % 2 = 0
                        THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg
            FROM customer
        )
        SELECT CAST(COUNT(*) AS BIGINT)                    AS n_rows,
               CAST(COUNT(DISTINCT seg) AS BIGINT)         AS distinct_binary,
               CAST(COUNT(DISTINCT lower(seg)) AS BIGINT)  AS distinct_ci
        FROM m
    """,
    tags=("scalar", "string", "collation", "customer"),
)
def scalar_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): the same mixed-case column counts
    10 distinct values under binary (UTF8_BINARY) comparison but 5
    under the UNICODE_CI collation — equality, grouping, and joins all
    follow the column's collation instead of needing lower() wrapped
    around every reference (which would also defeat pushdown/stats).
    The oracle states the CI semantics via lower()."""
    c = load_table(spark, sf_dir, "customer")
    m = c.select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg")
    )
    return m.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("seg").cast("bigint").alias("distinct_binary"),
        F.countDistinct(F.collate(F.col("seg"), "UNICODE_CI"))
        .cast("bigint")
        .alias("distinct_ci"),
    )


@query(
    "scalar_xml_roundtrip",
    oracle="""
        SELECT o_orderkey, o_orderstatus AS status,
               ROUND(o_totalprice, 2)    AS price
        FROM orders
    """,
    tags=("scalar", "xml", "serialization", "orders"),
)
def scalar_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML functions (Spark 4 ``to_xml``/``from_xml``): serialize each
    order to an XML fragment and parse it straight back — the
    roundtripped fields must equal the source projection (which is
    exactly what the oracle states; DuckDB has no XML writer to
    byte-compare against). Map-only codegen both directions; the
    schema argument makes the parse a typed single pass, the same
    contract as ``from_json``."""
    o = load_table(spark, sf_dir, "orders")
    xml = F.to_xml(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("s"),
            F.round("o_totalprice", 2).alias("p"),
        )
    )
    parsed = F.from_xml(xml, "k BIGINT, s STRING, p DOUBLE")
    return o.select(parsed.alias("r")).select(
        F.col("r.k").alias("o_orderkey"),
        F.col("r.s").alias("status"),
        F.col("r.p").alias("price"),
    )


@query(
    "scalar_url_functions",
    oracle="""
        WITH u AS (
            SELECT doc_id, source, lang,
                   'https://' || source || '.Example.com/' || lang
                   || '/doc?id=' || doc_id || '&q=' || source || '+' || lang
                       AS url
            FROM documents
        )
        SELECT doc_id,
               split_part(split_part(url, '//', 2), '/', 1)           AS host,
               '/' || lang || '/doc'                                  AS path,
               regexp_extract(url, 'id=([0-9]+)', 1)                  AS id_param,
               replace(source || ' ' || lang, ' ', '+')               AS q_encoded,
               lower(split_part(split_part(url, '//', 2), '/', 1))
               || '/' || lang                                         AS norm_key
        FROM u
    """,
    tags=("scalar", "string", "url", "documents"),
)
def scalar_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing/normalization (``parse_url`` HOST/PATH/QUERY-param +
    ``url_encode``) — the first step of every web-corpus pipeline:
    canonical (lowercased host, first path segment) keys drive
    URL-level dedup before any content hashing. URLs are built
    deterministically from the document columns (query value
    pre-encoded — Spark 4's parse_url is strict about raw spaces), so
    the oracle restates the parse with string surgery (DuckDB has no
    parse_url/url_encode; the encode target is space→'+' on
    alphanumeric input, stated as replace() there). All map-only
    codegen — at 100 TB this runs inside the ingest scan."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".Example.com/"),
        F.col("lang"), F.lit("/doc?id="), F.col("doc_id"),
        F.lit("&q="), F.col("source"), F.lit("+"), F.col("lang"),
    )
    u = d.select("doc_id", "source", "lang", url.alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return u.select(
        "doc_id",
        host.alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("id")).alias(
            "id_param"
        ),
        F.url_encode(
            F.concat(F.col("source"), F.lit(" "), F.col("lang"))
        ).alias("q_encoded"),
        F.concat(F.lower(host), F.lit("/"), F.col("lang")).alias("norm_key"),
    )


@query(
    "scalar_hash_functions",
    oracle="""
        SELECT c_custkey,
               md5(c_name) AS name_md5,
               sha256(c_name) AS name_sha256,
               substr(md5(c_name || '|' || c_mktsegment), 1, 16)
                   AS composite_bucket
        FROM customer
        WHERE c_custkey < 200
    """,
    tags=("scalar", "hash", "customer"),
)
def scalar_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic content hashes as portable dedup/bucket keys:
    md5 and sha256 are ALGORITHM-DEFINED, so the same bytes give the
    same digest in every engine — unlike engine-native hash()/xxhash64
    whose values are implementation details. This is the digest
    discipline the exact-dedup family builds on (dedup_exact_hash):
    derive keys from content hashes and any engine can reproduce the
    partition assignment.

    Pure codegen scalar work over a pushed-down key filter."""
    c = load_table(spark, sf_dir, "customer")
    return c.where(F.col("c_custkey") < 200).select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        F.substring(
            F.md5(F.concat_ws("|", "c_name", "c_mktsegment")), 1, 16
        ).alias("composite_bucket"),
    )


@query(
    "scalar_decimal_exact",
    oracle="""
        WITH d AS (
            SELECT o_orderstatus,
                   CAST(o_totalprice AS DECIMAL(14,2)) AS price
            FROM orders
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(price) AS DOUBLE) AS total_exact,
               CAST(SUM(price * CAST(0.07 AS DECIMAL(3,2))) AS DOUBLE)
                   AS tax_exact,
               CAST(SUM(price) AS DOUBLE) / COUNT(*) AS avg_exact
        FROM d GROUP BY o_orderstatus
    """,
    tags=("scalar", "decimal", "aggregate", "orders"),
)
def scalar_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-typed exact aggregation: prices cast to DECIMAL(14,2)
    (the cents-exact doubles resolve unambiguously), summed and
    tax-multiplied in exact fixed-point — NO rounding idiom needed,
    unlike every double SUM in this repo, because decimal addition is
    associative and order-independent. The final cast to DOUBLE is
    itself exact (totals < 2^53 at these scales), so the cross-engine
    hash matches without tolerance.

    Scale note: Spark decimal aggregation stays in Tungsten (long-backed
    Decimal128 for precision ≤ 38) with map-side partial sums — the
    exactness costs no extra shuffle. This is the idiom for money math
    at 100 TB; the repo's ROUND-before-compare discipline elsewhere is
    only needed where doubles are the storage type."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    tax = price * F.lit("0.07").cast("decimal(3,2)")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(price).cast("double").alias("total_exact"),
        F.sum(tax).cast("double").alias("tax_exact"),
        (F.sum(price).cast("double") / F.count("*")).alias("avg_exact"),
    )


@query(
    "scalar_timezone_functions",
    oracle="""
        SELECT event_id,
               CAST(epoch_us(timezone('UTC', ts)) AS BIGINT) AS utc_micros,
               CAST(EXTRACT(hour FROM
                    timezone('America/New_York', timezone('UTC', ts)))
                    AS INTEGER) AS ny_hour,
               CAST(CAST(timezone('Australia/Sydney', timezone('UTC', ts))
                         AS DATE) AS VARCHAR) AS sydney_date,
               CAST((epoch_us(timezone('America/New_York', ts))
                     - epoch_us(timezone('UTC', ts))) / 3600000000
                    AS INTEGER) AS ny_offset_hours
        FROM events
    """,
    tags=("scalar", "timezone", "events"),
)
def scalar_timezone_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-zone conversion battery over the event stream (IANA tzdata
    in both engines): the UTC instant in micros, the New-York local
    hour, the Sydney local date (crosses the date line for evening UTC
    events), and the NY offset-from-UTC in hours recovered by
    re-interpreting the same wall time in both zones (5 in January,
    4 under DST — the derivation a tz-correct engine must get right).

    Session-timezone independence: every expression goes through an
    explicit zone (interpret-as-UTC first), never the ambient session
    zone — the only portable discipline for tz math, restated
    identically in the oracle (DuckDB ICU timezone())."""
    e = load_table(spark, sf_dir, "events")
    ny_instant = F.to_utc_timestamp("ts", "America/New_York")
    utc_instant = F.col("ts")  # catalog normalizes ts to naive UTC
    return e.select(
        "event_id",
        F.unix_micros(utc_instant).alias("utc_micros"),
        F.hour(F.from_utc_timestamp("ts", "America/New_York")).alias("ny_hour"),
        F.from_utc_timestamp("ts", "Australia/Sydney")
        .cast("date")
        .cast("string")
        .alias("sydney_date"),
        (
            (F.unix_micros(ny_instant) - F.unix_micros(utc_instant))
            / 3_600_000_000
        )
        .cast("int")
        .alias("ny_offset_hours"),
    )


@query(
    "scalar_base64_roundtrip",
    oracle="""
        SELECT c_custkey,
               to_base64(CAST(c_name AS BLOB)) AS name_b64,
               decode(from_base64(to_base64(CAST(c_name AS BLOB))))
                   = c_name AS roundtrip_ok
        FROM customer
    """,
    tags=("scalar", "string", "codec", "customer"),
)
def scalar_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64 encode/decode battery (the blob-over-text transport
    codec): RFC 4648 output is engine-independent, so the encoded
    string itself is hash-compared, and the decode closes the loop."""
    c = load_table(spark, sf_dir, "customer")
    b64 = F.base64(F.col("c_name").cast("binary"))
    return c.select(
        "c_custkey",
        b64.alias("name_b64"),
        (F.unbase64(b64).cast("string") == F.col("c_name")).alias(
            "roundtrip_ok"
        ),
    )


# --- round-5 carriers: fresh never-driver-certified exemplars for the
# math / json / map / variant / array families (the r05 window is all
# first-time entries; each family needs a first-time carrier) ---------


@query(
    "scalar_math_exp_log",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(EXP(l_discount), 6)                        AS disc_exp,
               ROUND(LN(l_extendedprice + 1), 6)                AS price_ln,
               ROUND(LOG2(l_quantity + 1), 6)                   AS qty_log2,
               CAST(SIGN(l_quantity - 25) AS BIGINT)            AS qty_sign,
               ROUND(ATAN2(l_tax, l_discount + 0.001), 6)       AS rate_angle,
               ROUND(CBRT(l_extendedprice), 6)                  AS price_cbrt,
               ROUND(1.0 / (1.0 + EXP(-(l_quantity - 25) / 10.0)), 6)
                                                                AS qty_sigmoid
        FROM lineitem
    """,
    tags=("scalar", "math", "lineitem"),
)
def scalar_math_exp_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcendental math battery (exp/ln/log2/sign/atan2/cbrt and the
    logistic transform every ML featurizer applies) — complements the
    rounding-family battery in ``scalar_math_functions``. All built-ins,
    whole-stage-codegen'd; ROUND(_, 6) absorbs any libm ulp drift."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.log2(F.col("l_quantity") + 1), 6).alias("qty_log2"),
        F.signum(F.col("l_quantity") - 25).cast("bigint").alias("qty_sign"),
        F.round(F.atan2(F.col("l_tax"), F.col("l_discount") + 0.001), 6).alias(
            "rate_angle"
        ),
        F.round(F.cbrt("l_extendedprice"), 6).alias("price_cbrt"),
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("l_quantity") - 25) / 10.0)), 6
        ).alias("qty_sigmoid"),
    )


@query(
    "scalar_json_build_extract",
    oracle="""
        SELECT o_orderkey,
               CAST(json_extract_string(
                   to_json(struct_pack(status := o_orderstatus,
                                       fin := struct_pack(amt := o_totalprice,
                                                          pri := o_orderpriority))),
                   '$.fin.pri') AS VARCHAR)                    AS pri,
               ROUND(CAST(json_extract(
                   to_json(struct_pack(status := o_orderstatus,
                                       fin := struct_pack(amt := o_totalprice,
                                                          pri := o_orderpriority))),
                   '$.fin.amt') AS DOUBLE), 2)                 AS amt,
               json_extract_string(
                   to_json(struct_pack(status := o_orderstatus,
                                       fin := struct_pack(amt := o_totalprice,
                                                          pri := o_orderpriority))),
                   '$.missing') IS NULL                        AS missing_is_null
        FROM orders
    """,
    tags=("scalar", "json", "orders"),
)
def scalar_json_build_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON build→extract round trip: serialize a nested struct with
    ``to_json`` and read it back by path (``get_json_object``), the
    log-enrichment shape. Only EXTRACTED values are compared (JSON text
    itself is engine-formatting-dependent); the nested path and the
    missing-path→NULL contract are the checks."""
    o = load_table(spark, sf_dir, "orders")
    j = F.to_json(
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.col("o_totalprice").alias("amt"),
                F.col("o_orderpriority").alias("pri"),
            ).alias("fin"),
        )
    )
    return o.select(
        "o_orderkey",
        F.get_json_object(j, "$.fin.pri").alias("pri"),
        F.round(F.get_json_object(j, "$.fin.amt").cast("double"), 2).alias("amt"),
        F.get_json_object(j, "$.missing").isNull().alias("missing_is_null"),
    )


@query(
    "scalar_map_lookup_pipeline",
    oracle="""
        SELECT event_id,
               event_type                                       AS type_val,
               CAST(event_id % 7 AS BIGINT)                     AS bucket_val,
               2                                                AS n_keys,
               event_type = 'purchase'                          AS is_purchase,
               CAST(event_id % 7 + 100 AS BIGINT)               AS shifted
        FROM events
    """,
    tags=("scalar", "map", "events"),
)
def scalar_map_lookup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column pipeline: build with ``map_from_arrays``, look up by
    key, ``map_contains_key``, ``size``, and ``transform_values`` — the
    property-bag access shape. The oracle pins the VALUES the map ops
    must produce (maps are key-order-free, so scalar lookups — not the
    serialized map — are what is comparable cross-engine). Exercised
    per-row, JVM-side, codegen'd (complements ``scalar_map_functions``'
    entries/keys battery)."""
    e = load_table(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("type"), F.lit("bucket")),
        F.array(F.col("event_type"), (F.col("event_id") % 7).cast("string")),
    )
    shifted = F.transform_values(
        F.map_from_arrays(
            F.array(F.lit("bucket")), F.array(F.col("event_id") % 7)
        ),
        lambda k, v: v + 100,
    )
    return e.select(
        "event_id",
        m["type"].alias("type_val"),
        m["bucket"].cast("bigint").alias("bucket_val"),
        F.size(m).alias("n_keys"),
        (m["type"] == "purchase").alias("is_purchase"),
        F.element_at(shifted, "bucket").cast("bigint").alias("shifted"),
    )


@query(
    "scalar_variant_histogram",
    oracle="""
        SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
                    AS BIGINT)                                  AS k_decile,
               CAST(COUNT(*) AS BIGINT)                         AS n,
               CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT)                                  AS k_min,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT)                                  AS k_max
        FROM events
        GROUP BY k_decile
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant-typed aggregation: ``parse_json`` once into a binary
    variant, typed ``try_variant_get`` read, then histogram by decile —
    the schema-on-read rollup shape (complements the per-type sum in
    ``scalar_variant_extract``). The variant parse is the 100 TB move:
    one parse per row feeding any number of typed path reads."""
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select(F.floor(k / 10).cast("bigint").alias("k_decile"), k.alias("k"))
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("k").cast("bigint").alias("k_min"),
            F.max("k").cast("bigint").alias("k_max"),
        )
    )


@query(
    "array_fold_reverse_dot",
    oracle="""
        SELECT vec_id,
               ROUND(list_sum(list_transform(
                   list_zip(embedding, list_reverse(embedding)),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6)
                                                               AS rev_dot,
               ROUND(list_sum(list_transform(embedding[1:8],
                   x -> CAST(x AS DOUBLE))), 6)                AS head_sum,
               ROUND(CAST(list_max(embedding) AS DOUBLE), 6)   AS emb_max,
               CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
                                                               AS argmax_1b,
               len(list_filter(embedding, x -> x > 0))         AS n_pos
        FROM embeddings
    """,
    tags=("scalar", "array", "embeddings"),
)
def array_fold_reverse_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array battery: ``zip_with`` a vector against its
    ``reverse`` and fold (the palindromic autocorrelation probe),
    slice-sum, max/argmax, and predicate count — all sequential
    index-order folds, so the doubles match the oracle bitwise
    (complements ``array_higher_order_predicates``)."""
    em = load_table(spark, sf_dir, "embeddings")
    rev_dot = F.aggregate(
        F.zip_with(
            "embedding",
            F.reverse(F.col("embedding")),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    head_sum = F.aggregate(
        F.slice("embedding", 1, 8), F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return em.select(
        "vec_id",
        F.round(rev_dot, 6).alias("rev_dot"),
        F.round(head_sum, 6).alias("head_sum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("emb_max"),
        F.array_position(F.col("embedding"), F.array_max("embedding"))
        .cast("bigint")
        .alias("argmax_1b"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


# --- round-6 carriers: fresh never-driver-certified exemplars for the
# math / json / variant / array / map families (every earlier carrier
# was certified in the r01-r05 windows; the r06 window again needs
# first-time entries per family) --------------------------------------


@query(
    "scalar_math_haversine",
    oracle="""
        WITH pts AS (
            SELECT c_custkey,
                   CAST((c_custkey * 37) % 18000 AS DOUBLE) / 100.0 - 90.0
                       AS lat,
                   CAST((c_custkey * 73) % 36000 AS DOUBLE) / 100.0 - 180.0
                       AS lon
            FROM customer
        )
        SELECT c_custkey,
               ROUND(lat, 2) AS lat,
               ROUND(lon, 2) AS lon,
               ROUND(2.0 * 6371.0088 * ASIN(SQRT(
                   POW(SIN(RADIANS(48.8566 - lat) / 2.0), 2)
                   + COS(RADIANS(lat)) * COS(RADIANS(48.8566))
                     * POW(SIN(RADIANS(2.3522 - lon) / 2.0), 2))), 4)
                   AS dist_km,
               ROUND(DEGREES(ATAN2(
                   SIN(RADIANS(2.3522 - lon)) * COS(RADIANS(48.8566)),
                   COS(RADIANS(lat)) * SIN(RADIANS(48.8566))
                   - SIN(RADIANS(lat)) * COS(RADIANS(48.8566))
                     * COS(RADIANS(2.3522 - lon)))), 4)
                   AS bearing_deg
        FROM pts
    """,
    tags=("scalar", "math", "customer"),
)
def scalar_math_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle trig battery (radians/degrees/sin/cos/asin/atan2 —
    the geo-featurizer shape): haversine distance and initial bearing
    from a key-derived point grid to a fixed anchor. Complements the
    exp/log battery in ``scalar_math_exp_log``; all built-ins,
    whole-stage-codegen'd, ROUND absorbs libm ulp drift."""
    c = load_table(spark, sf_dir, "customer")
    lat = ((F.col("c_custkey") * 37) % 18000).cast("double") / 100.0 - 90.0
    lon = ((F.col("c_custkey") * 73) % 36000).cast("double") / 100.0 - 180.0
    dphi = F.radians(F.lit(48.8566) - lat)
    dlam = F.radians(F.lit(2.3522) - lon)
    a = (
        F.pow(F.sin(dphi / 2.0), 2)
        + F.cos(F.radians(lat)) * F.cos(F.radians(F.lit(48.8566)))
        * F.pow(F.sin(dlam / 2.0), 2)
    )
    bearing = F.atan2(
        F.sin(dlam) * F.cos(F.radians(F.lit(48.8566))),
        F.cos(F.radians(lat)) * F.sin(F.radians(F.lit(48.8566)))
        - F.sin(F.radians(lat))
        * F.cos(F.radians(F.lit(48.8566)))
        * F.cos(dlam),
    )
    return c.select(
        "c_custkey",
        F.round(lat, 2).alias("lat"),
        F.round(lon, 2).alias("lon"),
        F.round(2.0 * 6371.0088 * F.asin(F.sqrt(a)), 4).alias("dist_km"),
        F.round(F.degrees(bearing), 4).alias("bearing_deg"),
    )


@query(
    "scalar_json_array_paths",
    oracle="""
        WITH j AS (
            SELECT event_id,
                   to_json(struct_pack(
                       k := CAST(json_extract_string(props, '$.k') AS BIGINT),
                       tier := CASE
                           WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                                >= 50 THEN 'high' ELSE 'low' END,
                       tags := [event_type, 'evt',
                                CAST(event_id % 5 AS VARCHAR)])) AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_extract_string(doc, '$.k') AS BIGINT)   AS k_out,
               json_extract_string(doc, '$.tier')                AS tier,
               json_extract_string(doc, '$.tags[1]')             AS tag_2,
               CAST(json_array_length(doc, '$.tags') AS INTEGER) AS n_tags,
               json_extract_string(doc, '$.tags[9]') IS NULL     AS oob_is_null
        FROM j
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_array_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ARRAY paths: serialize a struct holding a string array, then
    read back by indexed path (``$.tags[1]``), take the array length,
    and pin out-of-bounds → NULL — the tag-enrichment shape that
    complements the nested-object paths in ``scalar_json_build_extract``.
    One to_json per row; all extraction JVM-side."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    doc = F.to_json(
        F.struct(
            k.alias("k"),
            F.when(k >= 50, F.lit("high")).otherwise(F.lit("low")).alias("tier"),
            F.array(
                F.col("event_type"), F.lit("evt"),
                (F.col("event_id") % 5).cast("string"),
            ).alias("tags"),
        )
    )
    return e.select(
        "event_id",
        F.get_json_object(doc, "$.k").cast("bigint").alias("k_out"),
        F.get_json_object(doc, "$.tier").alias("tier"),
        F.get_json_object(doc, "$.tags[1]").alias("tag_2"),
        F.json_array_length(F.get_json_object(doc, "$.tags")).alias("n_tags"),
        F.get_json_object(doc, "$.tags[9]").isNull().alias("oob_is_null"),
    )


@query(
    "scalar_variant_typed_paths",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_big,
               CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                    AS VARCHAR)                                   AS k_str,
               ROUND(CAST(json_extract_string(props, '$.k') AS DOUBLE)
                     / 7.0, 6)                                    AS k_sevenths,
               json_extract_string(props, '$.absent') IS NULL     AS missing_null,
               CAST(json_extract_string(props, '$.k') AS BIGINT)
                   BETWEEN 0 AND 99                               AS k_in_range
        FROM events
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_typed_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant typed-path battery: ONE ``parse_json`` per row feeding
    bigint / string / double ``try_variant_get`` reads of the same path,
    a missing-path → NULL pin, and a typed range predicate — the
    schema-on-read projection shape (aggregation counterpart:
    ``scalar_variant_histogram``). The single parse is the 100 TB move."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k_big = F.try_variant_get(v, "$.k", "bigint")
    return e.select(
        "event_id",
        k_big.alias("k_big"),
        F.try_variant_get(v, "$.k", "bigint").cast("string").alias("k_str"),
        F.round(F.try_variant_get(v, "$.k", "double") / 7.0, 6).alias(
            "k_sevenths"
        ),
        F.try_variant_get(v, "$.absent", "string").isNull().alias(
            "missing_null"
        ),
        k_big.between(0, 99).alias("k_in_range"),
    )


@query(
    "array_sorted_order_stats",
    oracle="""
        WITH s AS (
            SELECT vec_id, list_sort(embedding) AS l, len(embedding) AS n
            FROM embeddings
        )
        SELECT vec_id,
               ROUND(CAST(l[(n + 1) // 2] AS DOUBLE), 6)          AS med_lo,
               ROUND(CAST(l[CAST(CEIL(n * 0.75) AS INTEGER)] AS DOUBLE)
                     - CAST(l[CAST(CEIL(n * 0.25) AS INTEGER)] AS DOUBLE), 6)
                                                                  AS iqr,
               CAST(len(list_distinct(l)) AS INTEGER)             AS n_distinct,
               ROUND(CAST(l[n] AS DOUBLE) - CAST(l[1] AS DOUBLE), 6)
                                                                  AS spread,
               ROUND(list_sum(list_transform(l[n - 2:n],
                     x -> CAST(x AS DOUBLE))), 6)                 AS top3_sum
        FROM s
    """,
    tags=("scalar", "array", "embeddings"),
)
def array_sorted_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order statistics straight from ``array_sort`` (lower median, IQR
    by index, spread, top-3 mass) plus ``array_distinct`` cardinality —
    the per-vector robust-profile shape. Sorting INSIDE the row (no
    shuffle, no explode) is the point: 100 TB of vectors profile
    map-side. Complements the fold battery in ``array_fold_reverse_dot``."""
    em = load_table(spark, sf_dir, "embeddings")
    s = em.select(
        "vec_id",
        F.array_sort("embedding").alias("l"),
        F.size("embedding").alias("n"),
    )
    el = lambda idx: F.element_at(F.col("l"), idx).cast("double")  # noqa: E731
    n = F.col("n")
    return s.select(
        "vec_id",
        F.round(el(((n + 1) / 2).cast("int")), 6).alias("med_lo"),
        F.round(
            el(F.ceil(n * 0.75).cast("int")) - el(F.ceil(n * 0.25).cast("int")),
            6,
        ).alias("iqr"),
        F.size(F.array_distinct(F.col("l"))).alias("n_distinct"),
        F.round(el(n) - el(F.lit(1)), 6).alias("spread"),
        F.round(
            F.aggregate(
                F.slice("l", n - 2, F.lit(3)),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double"),
            ),
            6,
        ).alias("top3_sum"),
    )


@query(
    "scalar_map_zip_merge",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(l_quantity * 2.0, 2)                        AS qty_merged,
               ROUND(l_extendedprice, 2)                         AS price_kept,
               CASE WHEN l_quantity > 30.0 THEN ROUND(l_quantity, 2)
                    END                                          AS qty_if_big,
               3                                                 AS n_keys_after
        FROM lineitem
    """,
    tags=("scalar", "map", "lineitem"),
)
def scalar_map_zip_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map MERGE battery: ``map_zip_with`` (override-on-collision),
    ``map_concat`` (new-key add), and ``map_filter`` (predicate prune) —
    the config-overlay shape. Maps are key-order-free, so the oracle
    pins the scalar LOOKUPS the merged maps must produce, per the house
    map-comparison rule (``scalar_map_lookup_pipeline``)."""
    li = load_table(spark, sf_dir, "lineitem")
    m1 = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price")),
        F.array(F.col("l_quantity"), F.col("l_extendedprice")),
    )
    m2 = F.map_from_arrays(
        F.array(F.lit("qty")), F.array(F.col("l_quantity") * 2.0)
    )
    merged = F.map_zip_with(m1, m2, lambda k, v1, v2: F.coalesce(v2, v1))
    with_tax = F.map_concat(
        merged,
        F.map_from_arrays(F.array(F.lit("tax")), F.array(F.col("l_tax"))),
    )
    big_only = F.map_filter(m1, lambda k, v: v > 30.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.element_at(merged, "qty"), 2).alias("qty_merged"),
        F.round(F.element_at(merged, "price"), 2).alias("price_kept"),
        F.round(F.element_at(big_only, "qty"), 2).alias("qty_if_big"),
        F.size(with_tax).alias("n_keys_after"),
    )


# --- round-7 spare carriers (registered r06, never driver-certified):
# after the r06 window certifies, every scalar family again needs a
# first-time carrier; these are written and tri-SF-gated one round
# ahead so the r07 rotation draws from stock ------------------------


@query(
    "scalar_math_log1p_hypot",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(LN(1.0 + l_discount), 6)                  AS disc_log1p,
               ROUND(EXP(l_tax) - 1.0, 6)                      AS tax_expm1,
               ROUND(SQRT(l_quantity * l_quantity
                          + l_discount * 100 * l_discount * 100), 6)
                                                               AS qty_hypot,
               ROUND(POW(l_extendedprice, 0.25), 6)            AS price_4rt,
               ROUND(MOD(l_extendedprice, 7.5), 6)             AS price_fmod,
               CAST(FLOOR(LOG10(l_extendedprice)) AS BIGINT)   AS price_mag
        FROM lineitem
    """,
    tags=("scalar", "math", "lineitem"),
)
def scalar_math_log1p_hypot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically-careful math battery: log1p/expm1 (the
    catastrophic-cancellation-safe forms), hypotenuse, fractional
    power, float modulo, and order-of-magnitude — the feature-scaling
    vocabulary beyond ``scalar_math_exp_log``/``scalar_math_haversine``.
    The oracle states log1p/expm1 as LN(1+x)/EXP(x)-1: at these
    magnitudes (x ≥ 0.0) the naive forms agree with the safe forms to
    well past 6 decimals, which is exactly what ROUND(_, 6) pins."""
    li = load_table(spark, sf_dir, "lineitem")
    q, d, t, p = (F.col(c) for c in
                  ("l_quantity", "l_discount", "l_tax", "l_extendedprice"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log1p(d), 6).alias("disc_log1p"),
        F.round(F.expm1(t), 6).alias("tax_expm1"),
        F.round(F.sqrt(q * q + (d * 100) * (d * 100)), 6).alias("qty_hypot"),
        F.round(F.pow(p, 0.25), 6).alias("price_4rt"),
        F.round(p % 7.5, 6).alias("price_fmod"),
        F.floor(F.log10(p)).cast("bigint").alias("price_mag"),
    )


@query(
    "scalar_json_schema_validity",
    oracle="""
        WITH j AS (
            SELECT event_id,
                   CASE WHEN event_id % 10 = 0
                        THEN substr(props, 1, length(props) - 1)
                        ELSE props END AS doc
            FROM events
        ),
        -- validity = parses AND $.k is integer-typed, matching Spark's
        -- from_json('k BIGINT') null-row semantics exactly (advice r06:
        -- json_valid alone would accept a k-less/non-integer payload)
        v AS (
            SELECT event_id, doc,
                   TRY_CAST(CASE WHEN json_valid(doc)
                                 THEN json_extract_string(doc, '$.k')
                            END AS BIGINT) AS kv
            FROM j
        )
        SELECT event_id,
               kv IS NOT NULL                       AS is_valid,
               kv                                   AS k_parsed,
               CASE WHEN kv IS NULL THEN doc END    AS corrupt_payload
        FROM v
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_schema_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read VALIDITY handling — the quarantine pattern every
    JSON ingest needs: every 10th payload is truncated (malformed),
    ``from_json`` with an explicit schema yields NULL for it (Spark's
    PERMISSIVE mode), valid rows parse typed, and the corrupt payload
    itself is preserved in a quarantine column for replay. The oracle
    mirrors with json_valid + guarded extraction. One parse per row,
    JVM-side; the quarantine column keeps the bad bytes without
    failing the batch — the 100 TB dead-letter discipline."""
    e = load_table(spark, sf_dir, "events")
    doc = F.when(
        F.col("event_id") % 10 == 0,
        F.expr("substr(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    parsed = F.from_json(doc, "k BIGINT")
    is_valid = parsed.isNotNull() & parsed["k"].isNotNull()
    return e.select(
        "event_id",
        is_valid.alias("is_valid"),
        F.when(is_valid, parsed["k"]).alias("k_parsed"),
        F.when(~is_valid, doc).alias("corrupt_payload"),
    )


@query(
    "scalar_variant_array_paths",
    oracle="""
        WITH v AS (
            SELECT event_id,
                   '[' || json_extract_string(props, '$.k') || ', '
                       || CAST(CAST(json_extract_string(props, '$.k')
                                    AS BIGINT) * 2 AS VARCHAR)
                       || ', {"tag": "' || event_type || '"}]' AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_extract_string(doc, '$[0]') AS BIGINT) AS first_el,
               CAST(json_extract_string(doc, '$[1]') AS BIGINT) AS second_el,
               json_extract_string(doc, '$[2].tag')             AS nested_tag,
               json_extract_string(doc, '$[5]') IS NULL         AS oob_null
        FROM v
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_array_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant ARRAY navigation: parse a JSON array (heterogeneous —
    two numbers and an object) into ONE variant, then read indexed
    paths ``$[i]`` typed, a nested object field behind an index, and
    the out-of-bounds → NULL contract — the semi-structured list shape
    (object paths: ``scalar_variant_typed_paths``). Single parse per
    row feeding four typed reads."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    doc = F.concat(
        F.lit("["), k, F.lit(", "),
        (k.cast("bigint") * 2).cast("string"),
        F.lit(', {"tag": "'), F.col("event_type"), F.lit('"}]'),
    )
    v = F.parse_json(doc)
    return e.select(
        "event_id",
        F.try_variant_get(v, "$[0]", "bigint").alias("first_el"),
        F.try_variant_get(v, "$[1]", "bigint").alias("second_el"),
        F.try_variant_get(v, "$[2].tag", "string").alias("nested_tag"),
        F.try_variant_get(v, "$[5]", "string").isNull().alias("oob_null"),
    )


@query(
    "array_indexed_lambda_stats",
    oracle="""
        WITH z AS (
            SELECT vec_id,
                   list_zip(embedding,
                            range(1, len(embedding) + 1)) AS iz
            FROM embeddings
        )
        SELECT vec_id,
               ROUND(list_sum(list_transform(
                   list_filter(iz, p -> (CAST(p[2] AS BIGINT) % 2) = 1),
                   p -> CAST(p[1] AS DOUBLE))), 6)            AS odd_pos_sum,
               ROUND(list_sum(list_transform(iz,
                   p -> CASE WHEN (CAST(p[2] AS BIGINT) % 2) = 1
                             THEN CAST(p[1] AS DOUBLE)
                             ELSE -CAST(p[1] AS DOUBLE) END)), 6)
                                                              AS alt_sum,
               ROUND(list_sum(list_transform(iz,
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS BIGINT))), 6)
                                                              AS idx_weighted
        FROM z
    """,
    tags=("scalar", "array", "embeddings"),
)
def array_indexed_lambda_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-AWARE higher-order lambdas: Spark's two-argument
    ``filter``/``transform`` lambdas receive the element index
    directly (odd-position sum, alternating sum, index-weighted dot) —
    the positional-feature shape without any explode. The oracle has
    no indexed lambda, so it zips an explicit ``range()`` — two
    independent formulations of the same positional semantics.
    Sequential index-order folds: doubles match bitwise."""
    em = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    odd_sum = F.aggregate(
        F.filter(x, lambda v, i: (i + 1) % 2 == 1),
        F.lit(0.0),
        lambda a, v: a + v.cast("double"),
    )
    alt = F.aggregate(
        F.transform(
            x,
            lambda v, i: F.when((i + 1) % 2 == 1, v.cast("double")).otherwise(
                -v.cast("double")
            ),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    idxw = F.aggregate(
        F.transform(x, lambda v, i: v.cast("double") * (i + 1)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return em.select(
        "vec_id",
        F.round(odd_sum, 6).alias("odd_pos_sum"),
        F.round(alt, 6).alias("alt_sum"),
        F.round(idxw, 6).alias("idx_weighted"),
    )


@query(
    "scalar_map_entries_arith",
    oracle="""
        SELECT event_id,
               CAST(event_id % 7 AS BIGINT) * 10
                   + CAST(event_id % 3 AS BIGINT)              AS combined,
               CAST(GREATEST(event_id % 7, event_id % 3) AS BIGINT)
                                                               AS max_val,
               (event_id % 7) = (event_id % 3)                 AS keys_agree,
               2                                               AS n_entries
        FROM events
    """,
    tags=("scalar", "map", "events"),
)
def scalar_map_entries_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map ENTRIES arithmetic: build a two-key map, explode it back
    through ``map_entries`` (struct array), and fold the entries with
    an order-stable aggregate (entries preserve insertion order in
    Spark) — the map→array→scalar round trip. The oracle pins the
    scalar results per the house map rule. Complements zip/merge
    (``scalar_map_zip_merge``) and lookup (``scalar_map_lookup_pipeline``)."""
    e = load_table(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b")),
        F.array(
            (F.col("event_id") % 7).cast("bigint"),
            (F.col("event_id") % 3).cast("bigint"),
        ),
    )
    ent = F.map_entries(m)  # [{key, value}] in insertion order
    combined = F.aggregate(
        ent, F.lit(0).cast("bigint"), lambda acc, kv: acc * 10 + kv["value"]
    )
    return e.select(
        "event_id",
        combined.alias("combined"),
        F.aggregate(
            ent,
            F.lit(None).cast("bigint"),
            lambda acc, kv: F.greatest(F.coalesce(acc, kv["value"]),
                                       kv["value"]),
        ).alias("max_val"),
        (F.element_at(m, "a") == F.element_at(m, "b")).alias("keys_agree"),
        F.size(ent).alias("n_entries"),
    )


# --- round-8 spare tranche: second-depth scalar carriers ---------------


@query(
    "scalar_math_factorial_bits",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(factorial(l_linenumber) AS BIGINT)          AS line_fact,
               CAST(bit_count(l_orderkey) AS BIGINT)            AS key_popcount,
               CAST(xor(l_orderkey, l_partkey) AS BIGINT)       AS key_xor,
               CAST(l_orderkey & 255 AS BIGINT)                 AS key_low8,
               CAST((l_linenumber << 4) | 1 AS BIGINT)          AS line_shifted
        FROM lineitem
    """,
    tags=("scalar", "math", "lineitem"),
)
def scalar_math_factorial_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer math battery: factorial (exact ≤ 7! here), popcount,
    XOR/AND masking, and shift-compose — the hash/partition-key
    arithmetic vocabulary (float battery: ``scalar_math_log1p_hypot``).
    Pure 64-bit integer ops, bit-identical cross-engine by
    construction, whole-stage codegen'd."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.factorial("l_linenumber").cast("bigint").alias("line_fact"),
        F.bit_count("l_orderkey").cast("bigint").alias("key_popcount"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).cast("bigint")
        .alias("key_xor"),
        F.col("l_orderkey").bitwiseAND(F.lit(255)).cast("bigint")
        .alias("key_low8"),
        (F.shiftleft("l_linenumber", 4).bitwiseOR(F.lit(1)))
        .cast("bigint")
        .alias("line_shifted"),
    )


@query(
    "scalar_json_struct_array_agg",
    oracle="""
        WITH c AS (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        j AS (
            SELECT o_orderkey,
                   '[{"q": ' || CAST(cents // 10 AS VARCHAR)
                   || '}, {"q": ' || CAST(cents // 5 AS VARCHAR)
                   || '}, {"q": ' || CAST(cents - cents // 10 - cents // 5
                                          AS VARCHAR) || '}]' AS doc
            FROM c
        )
        SELECT o_orderkey,
               CAST(json_array_length(doc) AS INTEGER)            AS n_parts,
               CAST(CAST(json_extract(doc, '$[0].q') AS BIGINT)
                    + CAST(json_extract(doc, '$[1].q') AS BIGINT)
                    + CAST(json_extract(doc, '$[2].q') AS BIGINT)
                    AS BIGINT)                                    AS parts_sum,
               CAST(GREATEST(CAST(json_extract(doc, '$[0].q') AS BIGINT),
                             CAST(json_extract(doc, '$[1].q') AS BIGINT),
                             CAST(json_extract(doc, '$[2].q') AS BIGINT))
                    AS BIGINT)                                    AS parts_max
        FROM j
    """,
    tags=("scalar", "json", "orders"),
)
def scalar_json_struct_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON array-of-objects DESERIALIZATION: ``from_json`` with an
    ``array<struct<...>>`` schema turns the payload into a typed array
    in ONE parse, then array folds aggregate it — the line-items-in-a-
    blob shape (indexed string paths: ``scalar_json_array_paths``).
    Typed deserialization beats N path extractions at 100 TB: one
    parse, then JVM array ops."""
    o = load_table(spark, sf_dir, "orders")
    # exact integer cents: no half-rounding hazard inside the payload
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    p1 = F.expr(f"CAST(round(o_totalprice * 100) AS BIGINT) DIV 10")
    p2 = F.expr(f"CAST(round(o_totalprice * 100) AS BIGINT) DIV 5")
    p3 = cents - p1 - p2
    doc = F.concat(
        F.lit('[{"q": '), p1.cast("string"),
        F.lit('}, {"q": '), p2.cast("string"),
        F.lit('}, {"q": '), p3.cast("string"), F.lit("}]"),
    )
    arr = F.from_json(doc, "array<struct<q: bigint>>")
    qs = F.transform(arr, lambda s: s["q"])
    return o.select(
        "o_orderkey",
        F.size(arr).alias("n_parts"),
        F.aggregate(qs, F.lit(0).cast("bigint"), lambda a, x: a + x)
        .alias("parts_sum"),
        F.array_max(qs).cast("bigint").alias("parts_max"),
    )


@query(
    "scalar_variant_nested_hops",
    oracle="""
        WITH v AS (
            SELECT event_id,
                   '{"outer": {"mid": {"k": '
                       || json_extract_string(props, '$.k')
                       || ', "tag": "' || event_type || '"}}}' AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_extract_string(doc, '$.outer.mid.k') AS BIGINT)
                                                              AS deep_k,
               json_extract_string(doc, '$.outer.mid.tag')    AS deep_tag,
               json_extract_string(doc, '$.outer.absent.k') IS NULL
                                                              AS broken_path,
               json_extract(doc, '$.outer.mid') IS NOT NULL   AS mid_exists
        FROM v
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_nested_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant DEEP-PATH navigation: a three-level nested document
    read by multi-hop paths (``$.outer.mid.k``), with the
    broken-intermediate-path → NULL contract and an existence probe on
    a subtree — the deeply-nested telemetry shape (flat paths:
    ``scalar_variant_typed_paths``; arrays: ``scalar_variant_array_
    paths``). One parse feeds all four reads."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"outer": {"mid": {"k": '),
        F.get_json_object("props", "$.k"),
        F.lit(', "tag": "'),
        F.col("event_type"),
        F.lit('"}}}'),
    )
    v = F.parse_json(doc)
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.outer.mid.k", "bigint").alias("deep_k"),
        F.try_variant_get(v, "$.outer.mid.tag", "string").alias("deep_tag"),
        F.try_variant_get(v, "$.outer.absent.k", "bigint")
        .isNull()
        .alias("broken_path"),
        F.try_variant_get(v, "$.outer.mid", "string").isNotNull()
        .alias("mid_exists"),
    )


N_QUARTERS = 4  # embedding quarter-split width = 64 / 4


@query(
    "array_quarter_split_sums",
    oracle="""
        SELECT vec_id,
               ROUND(list_sum(list_transform(embedding[1:16],
                     x -> CAST(x AS DOUBLE))), 6)  AS q1_sum,
               ROUND(list_sum(list_transform(embedding[17:32],
                     x -> CAST(x AS DOUBLE))), 6)  AS q2_sum,
               ROUND(list_sum(list_transform(embedding[33:48],
                     x -> CAST(x AS DOUBLE))), 6)  AS q3_sum,
               ROUND(list_sum(list_transform(embedding[49:64],
                     x -> CAST(x AS DOUBLE))), 6)  AS q4_sum,
               CAST(len(flatten([embedding[1:16], embedding[33:48]]))
                    AS INTEGER)                    AS odd_halves_len
        FROM embeddings
    """,
    tags=("scalar", "array", "embeddings"),
)
def array_quarter_split_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SPLIT-APPLY: slice a vector into quarters, fold each, and
    ``flatten`` a reassembled subset — the subvector-pooling shape
    behind Matryoshka/PQ-style slicing, kept entirely in-row (ordered
    battery: ``array_sorted_order_stats``; indexed lambdas:
    ``array_indexed_lambda_stats``). Sequential index-order folds:
    doubles match bitwise."""
    em = load_table(spark, sf_dir, "embeddings")

    def qsum(i):
        return F.round(
            F.aggregate(
                F.slice("embedding", 1 + 16 * i, 16),
                F.lit(0.0),
                lambda a, x: a + x.cast("double"),
            ),
            6,
        )

    return em.select(
        "vec_id",
        qsum(0).alias("q1_sum"),
        qsum(1).alias("q2_sum"),
        qsum(2).alias("q3_sum"),
        qsum(3).alias("q4_sum"),
        F.size(
            F.flatten(
                F.array(F.slice("embedding", 1, 16),
                        F.slice("embedding", 33, 16))
            )
        ).alias("odd_halves_len"),
    )


@query(
    "scalar_map_keys_values_fold",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               'price|qty|tax'                                     AS keys_sorted,
               ROUND(l_extendedprice + l_quantity + l_tax, 4)      AS values_sum,
               ROUND(GREATEST(l_extendedprice, l_quantity, l_tax), 4)
                                                                   AS values_max,
               l_quantity > l_tax                                  AS qty_gt_tax
        FROM lineitem
    """,
    tags=("scalar", "map", "lineitem"),
)
def scalar_map_keys_values_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map KEYS/VALUES projections: ``map_keys`` sorted-and-joined to a
    canonical string, ``map_values`` folded (sum / max), and a
    two-lookup comparison — the audit-the-property-bag shape. Maps are
    key-order-free, so the SORTED key list and the order-insensitive
    folds are exactly what IS cross-engine comparable (the house map
    rule). Completes the map battery (lookup / zip-merge / entries)."""
    li = load_table(spark, sf_dir, "lineitem")
    m = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price"), F.lit("tax")),
        F.array(F.col("l_quantity"), F.col("l_extendedprice"),
                F.col("l_tax")),
    )
    vals = F.map_values(m)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(F.array_sort(F.map_keys(m)), "|").alias("keys_sorted"),
        F.round(
            F.aggregate(vals, F.lit(0.0), lambda a, x: a + x), 4
        ).alias("values_sum"),
        F.round(F.array_max(vals), 4).alias("values_max"),
        (F.element_at(m, "qty") > F.element_at(m, "tax")).alias("qty_gt_tax"),
    )


# ---------------------------------------------------------------------------
# math: inverse-trig battery
# ---------------------------------------------------------------------------


@query(
    "scalar_math_inverse_trig",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROUND(ATAN2(l_quantity, l_extendedprice / 1000.0), 6)
                                                          AS angle_rad,
               ROUND(DEGREES(ATAN2(l_quantity, l_extendedprice / 1000.0)), 6)
                                                          AS angle_deg,
               ROUND(ASIN(l_discount * 2.0), 6)           AS disc_asin,
               ROUND(ACOS(1.0 - l_tax), 6)                AS tax_acos,
               ROUND(CBRT(l_extendedprice), 6)            AS price_cbrt,
               ROUND(RADIANS(l_quantity), 6)              AS qty_rad,
               CAST(SIGN(l_discount - 0.05) AS BIGINT)    AS disc_side
        FROM lineitem
    """,
    tags=("scalar", "math", "lineitem"),
)
def scalar_math_inverse_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERSE-TRIG battery: atan2 (the quadrant-correct angle every
    geo/vector feature needs), its degree form, asin/acos on bounded
    inputs (l_discount ≤ 0.1 ⇒ 2d ≤ 0.2; 1−l_tax ∈ [0.92, 1.0] — both
    inside the principal domain), cube root, radians, and the
    three-valued sign — the direction-feature vocabulary completing
    the forward-trig haversine battery (``scalar_math_haversine``,
    r06) and the log battery (``scalar_math_log1p_hypot``). Row-local,
    JVM-side, whole-stage-codegen'd; no shuffle at any SF."""
    li = load_table(spark, sf_dir, "lineitem")
    q, d, t, p = (F.col(c) for c in
                  ("l_quantity", "l_discount", "l_tax", "l_extendedprice"))
    angle = F.atan2(q, p / 1000.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(angle, 6).alias("angle_rad"),
        F.round(F.degrees(angle), 6).alias("angle_deg"),
        F.round(F.asin(d * 2.0), 6).alias("disc_asin"),
        F.round(F.acos(1.0 - t), 6).alias("tax_acos"),
        F.round(F.cbrt(p), 6).alias("price_cbrt"),
        F.round(F.radians(q), 6).alias("qty_rad"),
        F.signum(d - 0.05).cast("bigint").alias("disc_side"),
    )


# ---------------------------------------------------------------------------
# json: object-shape introspection (keys, lengths, typed reads)
# ---------------------------------------------------------------------------


@query(
    "scalar_json_object_shape",
    oracle="""
        WITH j AS (
            SELECT event_id,
                   '{"k": ' || json_extract_string(props, '$.k')
                   || ', "type": "' || event_type
                   || '", "vals": [' || CAST(event_id % 5 AS VARCHAR)
                   || ', ' || CAST(event_id % 3 AS VARCHAR) || ']}' AS doc
            FROM events
        )
        SELECT event_id,
               array_to_string(list_sort(json_keys(doc)), ',') AS keys_sorted,
               CAST(len(json_keys(doc)) AS BIGINT)             AS n_keys,
               CAST(json_array_length(doc, '$.vals') AS BIGINT) AS n_vals,
               CAST(json_extract_string(doc, '$.vals[0]') AS BIGINT)
                                                               AS first_val,
               CAST(json_extract_string(doc, '$.k') AS BIGINT) AS k_typed
        FROM j
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_object_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON OBJECT-SHAPE introspection: enumerate keys
    (``json_object_keys``), count them, measure a nested array's
    length (``json_array_length``), and read typed leaves — the
    schema-discovery pass run before committing a ``from_json`` schema
    on a semi-structured feed (validity side:
    ``scalar_json_schema_validity``). Keys are emitted SORTED and
    serialized so the contract is order-independent; all row-local,
    one parse feeding four readers."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"k": '), F.get_json_object("props", "$.k"),
        F.lit(', "type": "'), F.col("event_type"),
        F.lit('", "vals": ['), (F.col("event_id") % 5).cast("string"),
        F.lit(", "), (F.col("event_id") % 3).cast("string"), F.lit("]}"),
    )
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.json_object_keys(doc)), ",").alias(
            "keys_sorted"
        ),
        F.size(F.json_object_keys(doc)).cast("bigint").alias("n_keys"),
        F.json_array_length(F.get_json_object(doc, "$.vals"))
        .cast("bigint")
        .alias("n_vals"),
        F.get_json_object(doc, "$.vals[0]").cast("bigint").alias("first_val"),
        F.get_json_object(doc, "$.k").cast("bigint").alias("k_typed"),
    )


# ---------------------------------------------------------------------------
# variant: mixed-type object with typed gets and null discipline
# ---------------------------------------------------------------------------


@query(
    "scalar_variant_mixed_scalars",
    oracle="""
        WITH v AS (
            SELECT event_id,
                   '{"i": ' || json_extract_string(props, '$.k')
                   || ', "f": ' || CAST(event_id % 7 AS VARCHAR) || '.5'
                   || ', "s": "' || event_type || '"'
                   || ', "b": ' || CASE WHEN event_id % 2 = 0
                                        THEN 'true' ELSE 'false' END
                   || ', "z": null}' AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_extract_string(doc, '$.i') AS BIGINT)  AS i_typed,
               CAST(json_extract_string(doc, '$.f') AS DOUBLE)  AS f_typed,
               json_extract_string(doc, '$.s')                  AS s_typed,
               CAST(json_extract_string(doc, '$.b') AS BOOLEAN) AS b_typed,
               json_type(doc, '$.z') = 'NULL'                   AS z_is_null,
               json_extract_string(doc, '$.missing') IS NULL    AS missing_null
        FROM v
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_mixed_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT with every scalar kind in one value: int, fraction,
    string, boolean, an explicit JSON null, and an absent path — one
    ``parse_json`` feeding six typed ``variant_get`` reads, including
    the two null disciplines the type distinguishes
    (``is_variant_null`` for a PRESENT null vs NULL-result for a
    MISSING path) — the semi-structured contract the JSON-string
    functions can't express (object paths:
    ``scalar_variant_typed_paths``; arrays:
    ``scalar_variant_array_paths``). Row-local, single parse."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"i": '), F.get_json_object("props", "$.k"),
        F.lit(', "f": '), (F.col("event_id") % 7).cast("string"), F.lit(".5"),
        F.lit(', "s": "'), F.col("event_type"), F.lit('"'),
        F.lit(', "b": '),
        F.when(F.col("event_id") % 2 == 0, "true").otherwise("false"),
        F.lit(', "z": null}'),
    )
    v = F.parse_json(doc)
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.i", "bigint").alias("i_typed"),
        F.try_variant_get(v, "$.f", "double").alias("f_typed"),
        F.try_variant_get(v, "$.s", "string").alias("s_typed"),
        F.try_variant_get(v, "$.b", "boolean").alias("b_typed"),
        F.is_variant_null(F.variant_get(v, "$.z", "variant")).alias(
            "z_is_null"
        ),
        F.try_variant_get(v, "$.missing", "string").isNull().alias(
            "missing_null"
        ),
    )


# ---------------------------------------------------------------------------
# array: integer-sequence set algebra, closed-form oracle
# ---------------------------------------------------------------------------


@query(
    "array_sequence_set_algebra",
    oracle="""
        WITH s AS (
            SELECT o_orderkey,
                   o_orderkey % 7 AS a_lo, o_orderkey % 7 + 5 AS a_hi,
                   o_orderkey % 5 AS b_lo, o_orderkey % 5 + 4 AS b_hi
            FROM orders
        ),
        ov AS (
            SELECT *,
                   GREATEST(0, LEAST(a_hi, b_hi)
                               - GREATEST(a_lo, b_lo) + 1) AS n_common
            FROM s
        )
        SELECT o_orderkey,
               CAST(n_common AS BIGINT)                    AS n_intersect,
               CAST(6 + 5 - n_common AS BIGINT)            AS n_union,
               CAST(6 - n_common AS BIGINT)                AS n_a_only,
               CAST(CASE WHEN b_lo BETWEEN a_lo AND a_hi
                         THEN b_lo - a_lo + 1 ELSE 0 END AS BIGINT)
                                                           AS b_lo_pos_in_a,
               n_common = 5 AND a_lo <= b_lo AND b_hi <= a_hi
                                                           AS b_subset_of_a
        FROM ov
    """,
    tags=("scalar", "array", "orders"),
)
def array_sequence_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY SET ALGEBRA on strictly-increasing integer sequences:
    intersect/union/except sizes, membership position
    (``array_position``), and the subset predicate — computed with
    Spark's native array functions, while the oracle derives every
    answer in CLOSED FORM from interval arithmetic (two consecutive
    integer ranges intersect in max(0, min(hi)−max(lo)+1) elements) —
    two genuinely independent formulations. All integers, bit-exact by
    construction; row-local, no shuffle, codegen'd."""
    o = load_table(spark, sf_dir, "orders")
    a = F.sequence(F.col("o_orderkey") % 7, F.col("o_orderkey") % 7 + 5)
    b = F.sequence(F.col("o_orderkey") % 5, F.col("o_orderkey") % 5 + 4)
    inter = F.array_intersect(a, b)
    return o.select(
        "o_orderkey",
        F.size(inter).cast("bigint").alias("n_intersect"),
        F.size(F.array_union(a, b)).cast("bigint").alias("n_union"),
        F.size(F.array_except(a, b)).cast("bigint").alias("n_a_only"),
        F.array_position(a, F.element_at(b, 1)).cast("bigint").alias(
            "b_lo_pos_in_a"
        ),
        (F.size(F.array_except(b, a)) == 0).alias("b_subset_of_a"),
    )


# ---------------------------------------------------------------------------
# map: aggregated histogram map serialized with a canonical key order
# ---------------------------------------------------------------------------


@query(
    "scalar_map_user_type_histogram",
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id, event_type
        )
        SELECT user_id,
               '{' || string_agg('"' || event_type || '":' || CAST(n AS VARCHAR),
                                 ',' ORDER BY event_type) || '}' AS hist_json,
               CAST(COUNT(*) AS BIGINT)                          AS n_types,
               CAST(MAX(n) AS BIGINT)                            AS max_type_n
        FROM c
        GROUP BY user_id
    """,
    tags=("scalar", "map", "events"),
)
def scalar_map_user_type_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EVENT-TYPE HISTOGRAM AS A MAP: counts per type
    collected into a ``map<string,bigint>`` via ``map_from_entries``
    over a KEY-SORTED entry list, serialized with ``to_json`` — the
    canonical-order discipline that makes a map column comparable,
    diffable, and oracle-checkable at all (Spark map serialization
    follows entry order; sorting the entries first makes it
    deterministic). The oracle builds the same JSON with an ORDER BY
    inside ``string_agg``. Two shuffles both keyed by user — the
    second reuses the first's partitioning at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        c.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("event_type", "n")))
            ).alias("hist"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.max("n").cast("bigint").alias("max_type_n"),
        )
        .select(
            "user_id",
            F.to_json("hist").alias("hist_json"),
            "n_types",
            "max_type_n",
        )
    )


# ---------------------------------------------------------------------------
# math: integer bit-twiddling battery (exact by construction)
# ---------------------------------------------------------------------------


@query(
    "scalar_math_integer_bits",
    oracle="""
        SELECT o_orderkey,
               CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS BIGINT)
                                                          AS popcount,
               CAST(o_orderkey << 3 AS BIGINT)            AS shl3,
               CAST(o_orderkey >> 2 AS BIGINT)            AS shr2,
               CAST(xor(o_orderkey, 255) AS BIGINT)       AS xor255,
               CAST(o_orderkey & 1023 AS BIGINT)          AS low10,
               CAST(o_orderkey | 4096 AS BIGINT)          AS or4096,
               CAST(CASE WHEN o_orderkey % 7 >= 0 THEN o_orderkey % 7
                         ELSE o_orderkey % 7 + 7 END AS BIGINT) AS pmod7
        FROM orders
    """,
    tags=("scalar", "math", "orders"),
)
def scalar_math_integer_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER BIT battery: popcount, shifts, xor/and/or masks, and
    positive-modulo — the hash/partition/bitmap vocabulary (SimHash
    hamming distances, bitmap indexes, and salting all reduce to
    these). Pure 64-bit integer ops — exact on any engine by
    definition, codegen'd, no shuffle (float batteries:
    ``scalar_math_log1p_hypot``, ``scalar_math_inverse_trig``)."""
    li = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return li.select(
        "o_orderkey",
        F.bit_count(k).cast("bigint").alias("popcount"),
        F.shiftleft(k, 3).cast("bigint").alias("shl3"),
        F.shiftright(k, 2).cast("bigint").alias("shr2"),
        k.bitwiseXOR(F.lit(255)).cast("bigint").alias("xor255"),
        k.bitwiseAND(F.lit(1023)).cast("bigint").alias("low10"),
        k.bitwiseOR(F.lit(4096)).cast("bigint").alias("or4096"),
        F.pmod(k, F.lit(7)).cast("bigint").alias("pmod7"),
    )


# ---------------------------------------------------------------------------
# string: edit-distance + phonetic-ish string battery
# ---------------------------------------------------------------------------


@query(
    "scalar_string_edit_distance",
    oracle="""
        SELECT c_custkey,
               levenshtein(c_name, 'Customer#000000001')       AS lev_to_first,
               CAST(length(c_name) AS BIGINT)                  AS name_len,
               left(c_name, 9)                                 AS name_prefix,
               right(c_name, 4)                                AS name_suffix,
               CAST(strpos(c_name, '#') AS BIGINT)             AS hash_pos,
               reverse(right(c_name, 4))                       AS suffix_rev,
               repeat(right(c_name, 1), 3)                     AS last_x3
        FROM customer
    """,
    tags=("scalar", "string", "customer"),
)
def scalar_string_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE string battery: Levenshtein distance to a fixed
    anchor (the fuzzy-matching primitive behind
    ``er_blocked_fuzzy_parts``), slicing from both ends, substring
    position, reverse, repeat — the record-linkage string vocabulary
    as row-local JVM ops (collation compare: ``scalar_collation_ci``;
    both engines implement the same Wagner-Fischer integer DP, so
    distances are exact)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.col("c_name")
    return c.select(
        "c_custkey",
        F.levenshtein(n, F.lit("Customer#000000001")).alias("lev_to_first"),
        F.length(n).cast("bigint").alias("name_len"),
        n.substr(F.lit(1), F.lit(9)).alias("name_prefix"),
        n.substr(F.length(n) - 3, F.lit(4)).alias("name_suffix"),
        F.instr(n, "#").cast("bigint").alias("hash_pos"),
        F.reverse(n.substr(F.length(n) - 3, F.lit(4))).alias("suffix_rev"),
        F.repeat(n.substr(F.length(n), F.lit(1)), 3).alias("last_x3"),
    )


# ---------------------------------------------------------------------------
# json: nested-array arithmetic through paths
# ---------------------------------------------------------------------------


@query(
    "scalar_json_array_arith",
    oracle="""
        WITH j AS (
            SELECT event_id,
                   '{"xs": [' || CAST(event_id % 5 AS VARCHAR) || ', '
                       || CAST(event_id % 7 AS VARCHAR) || ', '
                       || CAST(event_id % 11 AS VARCHAR) || ']}' AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_array_length(doc, '$.xs') AS BIGINT)       AS n_xs,
               CAST(json_extract_string(doc, '$.xs[0]') AS BIGINT)
                   + CAST(json_extract_string(doc, '$.xs[1]') AS BIGINT)
                   + CAST(json_extract_string(doc, '$.xs[2]') AS BIGINT)
                                                                    AS xs_sum,
               GREATEST(CAST(json_extract_string(doc, '$.xs[0]') AS BIGINT),
                        CAST(json_extract_string(doc, '$.xs[1]') AS BIGINT),
                        CAST(json_extract_string(doc, '$.xs[2]') AS BIGINT))
                                                                    AS xs_max,
               CAST(json_extract_string(doc, '$.xs[2]') AS BIGINT)  AS xs_last,
               json_extract_string(doc, '$.xs[9]') IS NULL          AS oob_null
        FROM j
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_array_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ARRAY ARITHMETIC through path reads: length, element sum,
    max, the last element, and the out-of-bounds → NULL contract —
    typed leaf extraction feeding integer arithmetic without ever
    materializing an array column (shape introspection:
    ``scalar_json_object_shape``; indexed paths:
    ``scalar_json_array_paths`` r07 window; note Spark's JsonPath has
    no negative indexing, so from-the-end reads must be positional).
    Row-local, exact integers."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"xs": ['), (F.col("event_id") % 5).cast("string"),
        F.lit(", "), (F.col("event_id") % 7).cast("string"),
        F.lit(", "), (F.col("event_id") % 11).cast("string"), F.lit("]}"),
    )
    x = [
        F.get_json_object(doc, f"$.xs[{i}]").cast("bigint") for i in range(3)
    ]
    return e.select(
        "event_id",
        F.json_array_length(F.get_json_object(doc, "$.xs"))
        .cast("bigint")
        .alias("n_xs"),
        (x[0] + x[1] + x[2]).alias("xs_sum"),
        F.greatest(*x).alias("xs_max"),
        F.get_json_object(doc, "$.xs[2]").cast("bigint").alias("xs_last"),
        F.get_json_object(doc, "$.xs[9]").isNull().alias("oob_null"),
    )


# ---------------------------------------------------------------------------
# variant: object-of-objects navigation with per-branch null accounting
# ---------------------------------------------------------------------------


@query(
    "scalar_variant_object_tree",
    oracle="""
        WITH v AS (
            SELECT event_id,
                   '{"a": {"x": ' || CAST(event_id % 4 AS VARCHAR)
                   || '}, "b": {"x": ' || CAST(event_id % 6 AS VARCHAR)
                   || ', "y": "' || event_type || '"}'
                   || CASE WHEN event_id % 3 = 0
                           THEN ', "c": {"x": 9}' ELSE '' END || '}' AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_extract_string(doc, '$.a.x') AS BIGINT)  AS ax,
               CAST(json_extract_string(doc, '$.b.x') AS BIGINT)  AS bx,
               json_extract_string(doc, '$.b.y')                  AS by_str,
               CAST(json_extract_string(doc, '$.c.x') AS BIGINT)  AS cx,
               json_extract(doc, '$.c') IS NOT NULL               AS has_c,
               CAST(json_extract_string(doc, '$.a.x') AS BIGINT)
                   + CAST(json_extract_string(doc, '$.b.x') AS BIGINT)
                   + COALESCE(CAST(json_extract_string(doc, '$.c.x')
                                   AS BIGINT), 0)                 AS x_total
        FROM v
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_object_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT OBJECT TREE: a two-level object where one branch ($.c)
    exists only on every third row — typed multi-hop reads, branch
    presence detection, and a COALESCE-folded cross-branch total (the
    ragged-schema navigation semi-structured feeds actually have;
    flat objects: ``scalar_variant_typed_paths``; arrays:
    ``scalar_variant_array_paths``; scalars:
    ``scalar_variant_mixed_scalars``). One parse_json per row feeding
    five variant_get reads."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"a": {"x": '), (F.col("event_id") % 4).cast("string"),
        F.lit('}, "b": {"x": '), (F.col("event_id") % 6).cast("string"),
        F.lit(', "y": "'), F.col("event_type"), F.lit('"}'),
        F.when(F.col("event_id") % 3 == 0, ', "c": {"x": 9}').otherwise(""),
        F.lit("}"),
    )
    v = F.parse_json(doc)
    ax = F.try_variant_get(v, "$.a.x", "bigint")
    bx = F.try_variant_get(v, "$.b.x", "bigint")
    cx = F.try_variant_get(v, "$.c.x", "bigint")
    return e.select(
        "event_id",
        ax.alias("ax"),
        bx.alias("bx"),
        F.try_variant_get(v, "$.b.y", "string").alias("by_str"),
        cx.alias("cx"),
        F.try_variant_get(v, "$.c", "variant").isNotNull().alias("has_c"),
        (ax + bx + F.coalesce(cx, F.lit(0))).alias("x_total"),
    )


# ---------------------------------------------------------------------------
# array: in-row fixed-bin histogram of an embedding vector
# ---------------------------------------------------------------------------

AHIST_BINS = 8
AHIST_LO = -0.6
AHIST_HI = 0.6


def _ahist_sql() -> str:
    width = (AHIST_HI - AHIST_LO) / AHIST_BINS
    cols = ", ".join(
        f"""CAST(len(list_filter(embedding,
                 v -> CAST(v AS DOUBLE) >= {AHIST_LO + i * width}
                  AND CAST(v AS DOUBLE) < {AHIST_LO + (i + 1) * width}))
             AS BIGINT) AS bin{i}"""
        for i in range(AHIST_BINS)
    )
    return f"""
        SELECT vec_id, {cols},
               CAST(len(list_filter(embedding,
                    v -> CAST(v AS DOUBLE) < {AHIST_LO}
                      OR CAST(v AS DOUBLE) >= {AHIST_HI})) AS BIGINT)
                   AS n_outside
        FROM embeddings
    """


@query(
    "array_value_histogram",
    oracle=_ahist_sql(),
    tags=("scalar", "array", "embeddings"),
)
def array_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ROW VALUE HISTOGRAM: each embedding vector bucketed into 8
    fixed bins over [-0.6, 0.6) plus an outside-range count — the
    per-vector distribution fingerprint (quantization codebooks and
    activation audits both start here), computed entirely with array
    lambdas: no explode, no shuffle, exact integer counts (bin edges
    are compared in double — identical literals, identical
    comparisons on both engines). Order statistics sibling:
    ``array_sorted_order_stats`` (r06)."""
    em = load_table(spark, sf_dir, "embeddings")
    width = (AHIST_HI - AHIST_LO) / AHIST_BINS
    x = F.col("embedding")

    def in_bin(lo: float, hi: float):
        # closure factory: a plain default-arg lambda would present 3
        # parameters and trip PySpark's higher-order-function arity check
        return lambda v: (v.cast("double") >= lo) & (v.cast("double") < hi)

    cols = [
        F.size(F.filter(x, in_bin(AHIST_LO + i * width,
                                  AHIST_LO + (i + 1) * width)))
        .cast("bigint")
        .alias(f"bin{i}")
        for i in range(AHIST_BINS)
    ]
    outside = (
        F.size(
            F.filter(
                x,
                lambda v: (v.cast("double") < AHIST_LO)
                | (v.cast("double") >= AHIST_HI),
            )
        )
        .cast("bigint")
        .alias("n_outside")
    )
    return em.select("vec_id", *cols, outside)


# ---------------------------------------------------------------------------
# map: key/value transforms with exact integer arithmetic
# ---------------------------------------------------------------------------


@query(
    "scalar_map_transform_arith",
    oracle="""
        WITH m AS (
            SELECT o_orderkey,
                   o_orderkey % 5 AS a, o_orderkey % 7 AS b, o_orderkey % 9 AS c
            FROM orders
        )
        SELECT o_orderkey,
               a * 10     AS a_scaled,
               b * 10     AS b_scaled,
               c * 10     AS c_scaled,
               a + b + c  AS v_total,
               CAST(CASE WHEN a >= 3 THEN 1 ELSE 0 END
                    + CASE WHEN b >= 3 THEN 1 ELSE 0 END
                    + CASE WHEN c >= 3 THEN 1 ELSE 0 END AS BIGINT) AS n_big
        FROM m
    """,
    tags=("scalar", "map", "orders"),
)
def scalar_map_transform_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP TRANSFORM arithmetic: build a 3-key map per row, scale every
    value with ``transform_values``, total them by folding
    ``map_values``, and count entries passing a predicate with
    ``map_filter`` — the engine-side map algebra (merge/zip:
    ``scalar_map_zip_merge`` r06; aggregated histogram map:
    ``scalar_map_user_type_histogram``). The oracle states the same
    arithmetic on the scalar legs directly — two formulations, one
    integer answer; the map column itself never leaves the row."""
    o = load_table(spark, sf_dir, "orders")
    m = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b"), F.lit("c")),
        F.array(
            F.col("o_orderkey") % 5,
            F.col("o_orderkey") % 7,
            F.col("o_orderkey") % 9,
        ),
    )
    scaled = F.transform_values(m, lambda k, v: v * 10)
    total = F.aggregate(
        F.map_values(m), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    n_big = F.size(F.map_filter(m, lambda k, v: v >= 3)).cast("bigint")
    return o.select(
        "o_orderkey",
        F.element_at(scaled, "a").alias("a_scaled"),
        F.element_at(scaled, "b").alias("b_scaled"),
        F.element_at(scaled, "c").alias("c_scaled"),
        total.alias("v_total"),
        n_big.alias("n_big"),
    )

# ---------------------------------------------------------------------------
# scalar/string: construction battery (pad / overlay / repeat / insert)
# ---------------------------------------------------------------------------


@query(
    "scalar_string_pad_overlay",
    oracle="""
        SELECT o_orderkey,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0')   AS key_lpad,
               rpad(o_orderpriority, 16, '.')               AS prio_rpad,
               repeat(o_orderstatus, 3)                     AS status_rep,
               -- overlay(priority PLACING '##' FROM 3): DuckDB lacks
               -- OVERLAY, restated as cut-and-paste concat
               substr(o_orderpriority, 1, 2) || '##'
                   || substr(o_orderpriority, 5)            AS prio_masked,
               CAST(length(lpad(CAST(o_orderkey AS VARCHAR), 12, '0'))
                    AS BIGINT)                              AS lpad_len
        FROM orders
    """,
    tags=("scalar", "string", "orders"),
)
def scalar_string_pad_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-CONSTRUCTION battery: zero-padding keys to fixed width
    (the join-key normalization every CSV/legacy ingest needs), right-
    padding for fixed-width sinks, repeat, and OVERLAY-based field
    masking (priority chars 3-4 → '##' — the PII-redaction shape).
    Spark uses the real ``overlay``; the oracle restates it as
    cut-and-paste substr concat — two formulations, one contract.
    Row-local, JVM codegen, no shuffle at any SF."""
    o = load_table(spark, sf_dir, "orders")
    key_str = F.col("o_orderkey").cast("string")
    return o.select(
        "o_orderkey",
        F.lpad(key_str, 12, "0").alias("key_lpad"),
        F.rpad("o_orderpriority", 16, ".").alias("prio_rpad"),
        F.repeat("o_orderstatus", 3).alias("status_rep"),
        F.overlay("o_orderpriority", F.lit("##"), F.lit(3)).alias(
            "prio_masked"
        ),
        F.length(F.lpad(key_str, 12, "0")).cast("bigint").alias("lpad_len"),
    )


# ---------------------------------------------------------------------------
# scalar/math: rounding-mode battery over exact cents
# ---------------------------------------------------------------------------


@query(
    "scalar_math_rounding_battery",
    oracle="""
        WITH x AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem
        )
        SELECT l_orderkey, l_linenumber,
               cents // 100                                   AS floor_usd,
               -- (c+99)//100 is ceil for the POSITIVE price domain;
               -- -(-c//100) would NOT be: both engines' integer
               -- division truncates toward zero, so that identity
               -- silently collapses to floor (caught by the replay
               -- test, not the cross-engine gate — both engines were
               -- identically wrong)
               (cents + 99) // 100                            AS ceil_usd,
               cents // 100                                   AS trunc_usd,
               (cents + 50) // 100                            AS half_up_usd,
               cents % 100                                    AS rem_cents,
               ((cents % 100) + 100) % 100                    AS mod_cents
        FROM x
    """,
    tags=("scalar", "math", "lineitem"),
)
def scalar_math_rounding_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUNDING-MODE battery stated ENTIRELY in integer arithmetic:
    floor / ceil / truncate / round-half-up from cents to dollars, plus
    remainder vs mathematical modulo — the money-bucketing vocabulary
    where engine ROUND semantics differ (Spark ROUND is half-up, DuckDB
    half-even on doubles: exactly the cross-engine trap this carrier
    sidesteps by never rounding a float at all). ceil as ``(c+99) div
    100`` and half-up as ``(c+50) div 100`` are the portable integer
    identities FOR THE POSITIVE price domain — the naive ``-(-c div
    100)`` ceil is a trap: both engines' integer division truncates
    toward zero, so it silently equals floor (a defect the replay test
    caught that the cross-engine gate structurally could not — both
    engines were identically wrong). trunc == floor on this domain,
    stated as such. Every output is a BIGINT, nothing to ULP.
    Row-local, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    x = li.select("l_orderkey", "l_linenumber", cents.alias("cents"))
    c = F.col("cents")
    return x.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("cents DIV 100").alias("floor_usd"),
        F.expr("(cents + 99) DIV 100").alias("ceil_usd"),
        F.expr("cents DIV 100").alias("trunc_usd"),
        F.expr("(cents + 50) DIV 100").alias("half_up_usd"),
        (c % 100).alias("rem_cents"),
        F.pmod(c, F.lit(100)).alias("mod_cents"),
    )


# ---------------------------------------------------------------------------
# scalar/json: object → key/value row explosion (schema discovery shape)
# ---------------------------------------------------------------------------


@query(
    "scalar_json_flatten_kv",
    oracle="""
        WITH kv AS (
            SELECT event_id,
                   UNNEST(json_keys(props)) AS k
            FROM events
        )
        SELECT event_id, k,
               json_extract_string(events.props, '$.' || k)   AS v_text,
               -- explicit integer regex on BOTH sides: TRY_CAST vs
               -- Spark CAST disagree on '12.5'/'1e3'-shaped strings
               -- (DuckDB rounds/parses them, Spark rejects) — r08 review
               regexp_matches(json_extract_string(events.props, '$.' || k),
                              '^-?[0-9]+$')                    AS v_is_int
        FROM kv JOIN events USING (event_id)
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_flatten_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON OBJECT → (key, value) ROW EXPLOSION — the schema-discovery
    primitive: parse each payload once as ``map<string,string>``,
    explode to one row per field, and type-probe each value (is it
    integral?). This is how a 100 TB semi-structured ingest inventories
    its field space before declaring a schema (the aggregated census
    sibling: ``scalar_json_object_shape``). One parse + one explode per
    row, JVM-side; output rows = Σ field counts, linear."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        e.select("event_id", F.explode(m).alias("k", "v_text"))
        .select(
            "event_id",
            "k",
            "v_text",
            # explicit integer regex, shared with the oracle: engine
            # string->int cast semantics diverge on '12.5'/'1e3'
            F.col("v_text").rlike("^-?[0-9]+$").alias("v_is_int"),
        )
    )


# ---------------------------------------------------------------------------
# scalar/variant: per-path dynamic type inspection
# ---------------------------------------------------------------------------


@query(
    "scalar_variant_typeof_map",
    oracle="""
        WITH v AS (
            SELECT event_id,
                   '{"n": ' || json_extract_string(props, '$.k')
                       || ', "s": "' || event_type
                       || '", "o": {"u": ' || CAST(user_id AS VARCHAR)
                       || '}, "z": null}' AS doc
            FROM events
        )
        SELECT event_id,
               CASE json_type(doc, '$.n')
                    WHEN 'BIGINT' THEN 'int' WHEN 'UBIGINT' THEN 'int'
                    WHEN 'DOUBLE' THEN 'float' ELSE lower(json_type(doc, '$.n'))
               END                                        AS n_type,
               CASE json_type(doc, '$.s')
                    WHEN 'VARCHAR' THEN 'string'
                    ELSE lower(json_type(doc, '$.s'))
               END                                        AS s_type,
               CASE json_type(doc, '$.o')
                    WHEN 'OBJECT' THEN 'object'
                    ELSE lower(json_type(doc, '$.o'))
               END                                        AS o_type,
               json_type(doc, '$.z') = 'NULL'             AS z_is_null,
               json_type(doc, '$.missing') IS NULL        AS missing_absent
        FROM v
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_typeof_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT per-path DYNAMIC TYPE inspection: build one heterogeneous
    variant per row (int / string / nested object / JSON null) and read
    back each path's runtime type, canonicalized to a shared engine-
    neutral vocabulary (int/string/object) — the type-census primitive
    schema-on-read pipelines run before casting (value siblings:
    ``scalar_variant_typed_paths``, ``scalar_variant_object_tree``).
    Spark answers from ``schema_of_variant`` over ``variant_get``
    subtrees; DuckDB from ``json_type`` — two genuinely different type
    systems mapped to one contract. JSON-null vs absent-path is pinned
    explicitly (the classic confusion). Row-local, one parse per row."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"n": '),
        F.get_json_object("props", "$.k"),
        F.lit(', "s": "'),
        F.col("event_type"),
        F.lit('", "o": {"u": '),
        F.col("user_id").cast("string"),
        F.lit('}, "z": null}'),
    )
    v = F.parse_json(doc)

    def canon(path: str) -> F.Column:
        t = F.schema_of_variant(F.expr(f"variant_get(v, '{path}')"))
        return (
            F.when(t == "BIGINT", "int")
            .when(t == "INT", "int")
            .when(t == "STRING", "string")
            .when(t.startswith("OBJECT"), "object")
            .when(t.startswith("STRUCT"), "object")
            .otherwise(F.lower(t))
        )

    x = e.select("event_id", v.alias("v"))
    return x.select(
        "event_id",
        canon("$.n").alias("n_type"),
        canon("$.s").alias("s_type"),
        canon("$.o").alias("o_type"),
        F.expr("is_variant_null(variant_get(v, '$.z'))").alias("z_is_null"),
        F.expr("variant_get(v, '$.missing')").isNull().alias("missing_absent"),
    )


# ---------------------------------------------------------------------------
# array: in-row running extrema (prefix scan inside one array cell)
# ---------------------------------------------------------------------------

AREX_Q = 10_000  # fixed-point scale for embedding components


@query(
    "array_running_extrema",
    oracle=f"""
        WITH x AS (
            SELECT vec_id,
                   list_transform(embedding,
                       e -> CAST(ROUND(CAST(e AS DOUBLE) * {AREX_Q})
                                 AS BIGINT)) AS q
            FROM embeddings
        )
        SELECT vec_id,
               CAST(len(list_filter(range(1, len(q) + 1),
                        i -> q[i] = list_max(q[1:i]))) AS BIGINT)
                   AS n_running_max_updates,
               CAST(len(list_filter(range(1, len(q) + 1),
                        i -> q[i] = list_min(q[1:i]))) AS BIGINT)
                   AS n_running_min_updates,
               CAST(list_max(q) AS BIGINT) AS final_max_q,
               CAST(list_min(q) AS BIGINT) AS final_min_q
        FROM x
    """,
    tags=("array", "scalar", "embeddings"),
)
def array_running_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ROW PREFIX-SCAN extrema: for each embedding (fixed-point
    integers, scale 10⁴), count how many positions update the running
    max / running min (the record-count statistic — E[records] = H_n ≈
    4.7 for random order, so a sorted-ish vector is instantly visible)
    plus the final extrema. The prefix scan runs INSIDE the array cell
    via higher-order functions — zero explode, zero shuffle, the
    pattern for per-vector sequential logic at 100 TB (the exploded
    sibling: ``array_indexed_lambda_stats``). A position counts as an
    update iff its value equals the prefix max (ties re-count on BOTH
    engines — the same closed predicate, no order-of-evaluation
    hazard). All integers."""
    em = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding",
        lambda e: F.round(e.cast("double") * AREX_Q).cast("bigint"),
    )
    x = em.select("vec_id", q.alias("q"))
    idx = F.sequence(F.lit(1), F.size("q"))
    is_max_upd = F.filter(
        idx, lambda i: F.element_at("q", i) == F.array_max(F.slice("q", 1, i))
    )
    is_min_upd = F.filter(
        idx, lambda i: F.element_at("q", i) == F.array_min(F.slice("q", 1, i))
    )
    return x.select(
        "vec_id",
        F.size(is_max_upd).cast("bigint").alias("n_running_max_updates"),
        F.size(is_min_upd).cast("bigint").alias("n_running_min_updates"),
        F.array_max("q").cast("bigint").alias("final_max_q"),
        F.array_min("q").cast("bigint").alias("final_min_q"),
    )


# ---------------------------------------------------------------------------
# map: filter + concat-with-defaults algebra
# ---------------------------------------------------------------------------

MAPF_MIN_COUNT = 3  # keep event types a user hit at least this often


@query(
    "scalar_map_filter_concat",
    oracle=f"""
        WITH counts AS (
            SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id, event_type
        ),
        kept AS (
            SELECT user_id, event_type, n FROM counts
            WHERE n >= {MAPF_MIN_COUNT}
        ),
        all_types AS (
            SELECT DISTINCT user_id, t.event_type
            FROM counts, (SELECT DISTINCT event_type FROM events) t
        )
        SELECT a.user_id, a.event_type,
               COALESCE(k.n, 0)          AS n_effective,
               k.n IS NOT NULL           AS survived_filter
        FROM all_types a LEFT JOIN kept k
          ON a.user_id = k.user_id AND a.event_type = k.event_type
    """,
    tags=("scalar", "map", "events"),
)
def scalar_map_filter_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP FILTER + DEFAULT-FILL algebra: per user, build the
    event-type→count map, ``map_filter`` away noise entries (count <
    3), then overlay onto a complete default map (every event type →
    0) with ``map_concat``-style precedence so every user emits a row
    for EVERY type — the dense-feature-vector normalization sparse
    per-entity maps need before ML assembly. The oracle states the
    same algebra relationally (filter + domain cross join + left
    join). Spark side stays in map-typed land until one final explode;
    one count shuffle, the type domain is a tiny broadcast. Output
    rows = users × types, dense by construction."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_user = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias(
            "m"
        )
    )
    kept = F.map_filter("m", lambda _, v: v >= MAPF_MIN_COUNT)
    types = [
        r.event_type
        for r in e.select("event_type").distinct().orderBy("event_type").collect()
    ]
    default = F.create_map(
        *[x for t in types for x in (F.lit(t), F.lit(0).cast("bigint"))]
    )
    # map_concat(default, kept) with kept winning on duplicate keys
    # (Spark's LAST_WIN policy under spark.sql.mapKeyDedupPolicy) would
    # be config-sensitive; zip_with over the full domain is the
    # deterministic spelling
    filled = per_user.select(
        "user_id",
        F.transform(
            F.array(*[F.lit(t) for t in types]),
            lambda t: F.struct(
                t.alias("event_type"),
                F.coalesce(F.element_at(kept, t), F.lit(0))
                .cast("bigint")
                .alias("n_effective"),
                F.element_at(kept, t).isNotNull().alias("survived_filter"),
            ),
        ).alias("entries"),
    )
    return filled.select(
        "user_id", F.explode("entries").alias("x")
    ).select(
        "user_id",
        F.col("x.event_type").alias("event_type"),
        F.col("x.n_effective").alias("n_effective"),
        F.col("x.survived_filter").alias("survived_filter"),
    )


# ---------------------------------------------------------------------------
# math: bitwise-operator battery (pure integer, zero ROUND surface)
# ---------------------------------------------------------------------------


@query(
    "scalar_math_bitwise_battery",
    oracle="""
        SELECT event_id,
               event_id & user_id                         AS and_ab,
               event_id | user_id                         AS or_ab,
               xor(event_id, user_id)                     AS xor_ab,
               (event_id % 1024) << 3                     AS shl3,
               event_id >> 2                              AS shr2,
               CAST(bit_count(event_id) AS BIGINT)        AS pop_a,
               CAST(bit_count(user_id) AS BIGINT)         AS pop_b,
               event_id & 1 = 1                           AS odd_a
        FROM events
    """,
    tags=("scalar", "math", "events"),
)
def scalar_math_bitwise_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITWISE-OPERATOR battery: AND / OR / XOR / shifts / popcount /
    parity over the key columns — the integer toolkit behind bitmap
    indexes, bloom probes, and flag unpacking (house users:
    ``sketch_bloom_filter_portable``, ``dedup_simhash``). Pure int64
    end-to-end: no ROUND, no float, nothing to guard — the value hash
    is exact by construction. XOR is the one operator the engines
    spell differently (Spark ``^`` / DuckDB ``xor()``); shifts pin the
    precedence convention (the modulo bounds shl3 so no overflow at
    any SF). Row-local, whole-stage-codegen, scan-bound at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    a, b = F.col("event_id"), F.col("user_id")
    return e.select(
        "event_id",
        a.bitwiseAND(b).alias("and_ab"),
        a.bitwiseOR(b).alias("or_ab"),
        a.bitwiseXOR(b).alias("xor_ab"),
        F.shiftleft(a % 1024, 3).alias("shl3"),
        F.shiftright(a, 2).alias("shr2"),
        F.bit_count(a).cast("bigint").alias("pop_a"),
        F.bit_count(b).cast("bigint").alias("pop_b"),
        (a.bitwiseAND(F.lit(1)) == 1).alias("odd_a"),
    )


# ---------------------------------------------------------------------------
# json: nested array-of-objects path battery
# ---------------------------------------------------------------------------


@query(
    "scalar_json_nested_paths",
    oracle="""
        WITH j AS (
            SELECT event_id,
                   '{"items": [{"p": ' || CAST(event_id % 7 AS VARCHAR)
                   || ', "q": ' || CAST(event_id % 3 AS VARCHAR)
                   || '}, {"p": ' || CAST(user_id % 5 AS VARCHAR)
                   || '}], "meta": {"seg": "' || event_type || '"}}' AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_extract_string(doc, '$.items[0].p') AS BIGINT)
                                                             AS p0,
               CAST(json_extract_string(doc, '$.items[0].q') AS BIGINT)
                                                             AS q0,
               CAST(json_extract_string(doc, '$.items[1].p') AS BIGINT)
                                                             AS p1,
               json_extract_string(doc, '$.items[1].q') IS NULL
                                                             AS q1_missing,
               CAST(json_array_length(doc, '$.items') AS BIGINT)
                                                             AS n_items,
               json_extract_string(doc, '$.meta.seg')        AS seg
        FROM j
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_nested_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED JSON PATH battery over an array-of-objects document:
    positional descent (``$.items[0].p``), a MISSING key inside a
    present element (``$.items[1].q`` → NULL, the absent-vs-null probe
    at depth 2 — ``scalar_json_object_shape`` pins it at depth 1),
    array length under a path, and a string leaf under a sibling
    object. Spark reads through ``get_json_object``/
    ``json_array_length``, DuckDB through ``json_extract_string`` —
    different JSONPath engines, one contract. Typed leaves cast to
    BIGINT on both sides. Row-local, one parse feeding six readers;
    scan-bound at any SF."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"items": [{"p": '),
        (F.col("event_id") % 7).cast("string"),
        F.lit(', "q": '),
        (F.col("event_id") % 3).cast("string"),
        F.lit('}, {"p": '),
        (F.col("user_id") % 5).cast("string"),
        F.lit('}], "meta": {"seg": "'),
        F.col("event_type"),
        F.lit('"}}'),
    )
    j = e.select("event_id", doc.alias("doc"))
    g = lambda p: F.get_json_object("doc", p)  # noqa: E731
    return j.select(
        "event_id",
        g("$.items[0].p").cast("bigint").alias("p0"),
        g("$.items[0].q").cast("bigint").alias("q0"),
        g("$.items[1].p").cast("bigint").alias("p1"),
        g("$.items[1].q").isNull().alias("q1_missing"),
        F.json_array_length(g("$.items")).cast("bigint").alias("n_items"),
        g("$.meta.seg").alias("seg"),
    )


# ---------------------------------------------------------------------------
# variant: heterogeneous-array element inspection
# ---------------------------------------------------------------------------


@query(
    "scalar_variant_array_elements",
    oracle="""
        WITH v AS (
            SELECT event_id,
                   '{"arr": [' || CAST(event_id % 9 AS VARCHAR)
                   || ', "' || event_type || '", null, {"u": '
                   || CAST(user_id AS VARCHAR) || '}]}' AS doc
            FROM events
        )
        SELECT event_id,
               CAST(json_array_length(doc, '$.arr') AS BIGINT) AS n_elems,
               CASE json_type(doc, '$.arr[0]')
                    WHEN 'BIGINT' THEN 'int' WHEN 'UBIGINT' THEN 'int'
                    ELSE lower(json_type(doc, '$.arr[0]')) END AS t0,
               CASE json_type(doc, '$.arr[1]')
                    WHEN 'VARCHAR' THEN 'string'
                    ELSE lower(json_type(doc, '$.arr[1]')) END AS t1,
               json_type(doc, '$.arr[2]') = 'NULL'             AS e2_is_null,
               CASE json_type(doc, '$.arr[3]')
                    WHEN 'OBJECT' THEN 'object'
                    ELSE lower(json_type(doc, '$.arr[3]')) END AS t3,
               CAST(json_extract_string(doc, '$.arr[3].u') AS BIGINT)
                                                               AS u_typed
        FROM v
    """,
    tags=("scalar", "variant", "events"),
)
def scalar_variant_array_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT HETEROGENEOUS-ARRAY inspection: one variant per row
    whose array mixes int / string / JSON-null / object, read back
    element-by-element — length, each element's runtime type
    (canonicalized to the shared engine-neutral vocabulary), the
    null-element probe, and a typed descent THROUGH an array element
    into an object field. The ARRAY complement of
    ``scalar_variant_typeof_map`` (object paths): schema-on-read
    pipelines meet exactly this shape in mixed-type JSON feeds. Spark
    answers from ``schema_of_variant`` over ``variant_get`` subtrees;
    DuckDB from ``json_type`` — two type systems, one contract.
    Row-local, one parse per row."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"arr": ['),
        (F.col("event_id") % 9).cast("string"),
        F.lit(', "'),
        F.col("event_type"),
        F.lit('", null, {"u": '),
        F.col("user_id").cast("string"),
        F.lit("}]}"),
    )
    v = e.select("event_id", F.parse_json(doc).alias("v"))

    def canon(path: str) -> F.Column:
        t = F.schema_of_variant(F.expr(f"variant_get(v, '{path}')"))
        return (
            F.when(t == "BIGINT", "int")
            .when(t == "INT", "int")
            .when(t == "STRING", "string")
            .when(t.startswith("OBJECT"), "object")
            .when(t.startswith("STRUCT"), "object")
            .otherwise(F.lower(t))
        )

    return v.select(
        "event_id",
        F.expr("size(variant_get(v, '$.arr', 'array<variant>'))")
        .cast("bigint")
        .alias("n_elems"),
        canon("$.arr[0]").alias("t0"),
        canon("$.arr[1]").alias("t1"),
        F.expr("is_variant_null(variant_get(v, '$.arr[2]'))").alias(
            "e2_is_null"
        ),
        canon("$.arr[3]").alias("t3"),
        F.expr("variant_get(v, '$.arr[3].u', 'bigint')").alias("u_typed"),
    )


# ---------------------------------------------------------------------------
# map: value-collision census (invertibility of a property bag)
# ---------------------------------------------------------------------------


@query(
    "scalar_map_collision_census",
    oracle="""
        SELECT event_id,
               event_id % 97                    AS v_t,
               user_id % 97                     AS v_u,
               (event_id + user_id) % 97        AS v_m,
               CAST(CASE WHEN event_id % 97 = user_id % 97
                          AND user_id % 97 = (event_id + user_id) % 97
                         THEN 1
                    WHEN event_id % 97 = user_id % 97
                      OR user_id % 97 = (event_id + user_id) % 97
                      OR event_id % 97 = (event_id + user_id) % 97
                         THEN 2
                    ELSE 3 END AS BIGINT)       AS n_distinct_vals,
               event_id % 97 <> user_id % 97
               AND user_id % 97 <> (event_id + user_id) % 97
               AND event_id % 97 <> (event_id + user_id) % 97
                                                AS invertible,
               FALSE                            AS has_tax
        FROM events
    """,
    tags=("scalar", "map", "events"),
)
def scalar_map_collision_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP VALUE-COLLISION census: build a 3-key property bag with
    ``map_from_arrays``, read each value back by key lookup, and
    decide whether the map is INVERTIBLE (values pairwise distinct —
    the precondition for swapping keys↔values that
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` enforces the hard way:
    inverting a colliding map throws). The oracle never builds a map;
    it restates each lookup and the collision predicate from the
    generating arithmetic — map semantics on one side, relational
    algebra on the other. Pure integers and booleans; row-local,
    codegen, scan-bound at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    m = F.map_from_arrays(
        F.array(F.lit("t"), F.lit("u"), F.lit("m")),
        F.array(
            F.col("event_id") % 97,
            F.col("user_id") % 97,
            (F.col("event_id") + F.col("user_id")) % 97,
        ),
    )
    w = e.select("event_id", m.alias("m"))
    vals = F.map_values("m")
    return w.select(
        "event_id",
        F.element_at("m", "t").alias("v_t"),
        F.element_at("m", "u").alias("v_u"),
        F.element_at("m", "m").alias("v_m"),
        F.size(F.array_distinct(vals)).cast("bigint").alias(
            "n_distinct_vals"
        ),
        (F.size(F.array_distinct(vals)) == F.size(vals)).alias("invertible"),
        F.map_contains_key("m", "tax").alias("has_tax"),
    )


# ---------------------------------------------------------------------------
# array: rotate / reverse / fold probe battery
# ---------------------------------------------------------------------------


@query(
    "array_rotate_reverse_probe",
    oracle="""
        WITH a AS (
            SELECT event_id,
                   range(event_id % 5, event_id % 5 + 6) AS l
            FROM events
        )
        SELECT event_id,
               array_to_string(l, ',')                    AS arr,
               array_to_string(list_reverse(l), ',')      AS arr_rev,
               array_to_string(l[3:6] || l[1:2], ',')     AS arr_rot2,
               CAST(list_position(l, event_id % 5 + 3) AS BIGINT)
                                                          AS pos_probe,
               list_contains(l, event_id % 5)             AS has_head,
               CAST(list_sum(l) AS BIGINT)                AS fold_sum,
               CAST(len(list_distinct(
                   list_transform(l, x -> x % 3))) AS BIGINT)
                                                          AS n_mod3
        FROM a
    """,
    tags=("scalar", "array", "events"),
)
def array_rotate_reverse_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY manipulation battery over a generated 6-int sequence:
    reverse, ROTATE-left-by-2 (the concat-of-slices idiom — neither
    engine ships a rotate primitive), positional probe
    (``array_position`` is 1-based on BOTH engines), membership, an
    integer fold, and distinct-count after a modular transform. Arrays
    are serialized to CSV strings before returning (the house
    array-output contract — the driver's canonicalizer cannot hash
    list cells). Pure integers; row-local; codegen; scan-bound. The
    DuckDB slice ``l[3:6] || l[1:2]`` and Spark ``slice(l,3,4) ||
    slice(l,1,2)`` state the same rotation through each engine's
    slicing convention (1-based inclusive vs start+length)."""
    e = load_table(spark, sf_dir, "events")
    lo = F.col("event_id") % 5
    l = F.sequence(lo, lo + 5)
    a = e.select("event_id", l.alias("l"))
    return a.select(
        "event_id",
        F.concat_ws(",", F.col("l")).alias("arr"),
        F.concat_ws(",", F.reverse("l")).alias("arr_rev"),
        F.concat_ws(
            ",", F.concat(F.slice("l", 3, 4), F.slice("l", 1, 2))
        ).alias("arr_rot2"),
        F.array_position("l", F.col("event_id") % 5 + 3)
        .cast("bigint")
        .alias("pos_probe"),
        F.array_contains("l", F.col("event_id") % 5).alias("has_head"),
        F.aggregate("l", F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        .alias("fold_sum"),
        F.size(F.array_distinct(F.transform("l", lambda x: x % 3)))
        .cast("bigint")
        .alias("n_mod3"),
    )


# ---------------------------------------------------------------------------
# string + topk: token 3-char suffix census
# ---------------------------------------------------------------------------

SUFFIX_TOPK = 10
SUFFIX_MIN_LEN = 4


@query(
    "scalar_string_suffix_census",
    oracle=f"""
        WITH toks AS (
            SELECT UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        sfx AS (
            SELECT right(tok, 3) AS suffix3, tok
            FROM toks WHERE length(tok) >= {SUFFIX_MIN_LEN}
        ),
        agg AS (
            SELECT suffix3,
                   CAST(COUNT(*) AS BIGINT)            AS n_tokens,
                   CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
                   MIN(tok)                            AS example_token
            FROM sfx GROUP BY suffix3
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, suffix3)
                    AS BIGINT) AS rk,
               suffix3, n_tokens, n_distinct_tokens, example_token
        FROM agg QUALIFY rk <= {SUFFIX_TOPK}
    """,
    tags=("scalar", "string", "topk", "documents"),
)
def scalar_string_suffix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K TOKEN SUFFIX census — the morphological profile
    (derivational suffix frequencies) a language-ID or stemmer-
    calibration pass reads first: 3-char suffixes of tokens >= 4 chars,
    ranked by occurrence with full tiebreak (count DESC, suffix ASC —
    a top-k over strings is only deterministic with the tiebreak
    spelled out), each with its distinct-token support and the
    lexicographically-first example. String kernel: right()/length()
    — identical names and semantics on both engines. All integers.
    100 TB: one explode + one suffix-keyed aggregate (map-side
    combinable), then a 10-row global top-k — the two-phase
    rank-then-limit every distributed top-k compiles to."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    sfx = toks.filter(F.length("tok") >= SUFFIX_MIN_LEN).select(
        F.expr("right(tok, 3)").alias("suffix3"), "tok"
    )
    agg = sfx.groupBy("suffix3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("tok").cast("bigint").alias("n_distinct_tokens"),
        F.min("tok").alias("example_token"),
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("n_tokens").desc(), "suffix3")
    )
    return (
        agg.select(rk.cast("bigint").alias("rk"), "*")
        .filter(F.col("rk") <= SUFFIX_TOPK)
        .select("rk", "suffix3", "n_tokens", "n_distinct_tokens", "example_token")
    )


# ---------------------------------------------------------------------------
# math: log/exp/root battery over exact integer quantities
# ---------------------------------------------------------------------------


@query(
    "scalar_math_log_exp_battery",
    oracle="""
        WITH q AS (
            SELECT CAST(l_quantity AS BIGINT) AS qty,
                   CAST(COUNT(*) AS BIGINT)   AS n
            FROM lineitem GROUP BY CAST(l_quantity AS BIGINT)
        )
        SELECT qty, n,
               ROUND(LN(qty), 6)             AS ln_q,
               ROUND(LOG10(qty), 6)          AS log10_q,
               ROUND(LOG2(qty), 6)           AS log2_q,
               ROUND(SQRT(qty), 6)           AS sqrt_q,
               ROUND(CBRT(qty), 6)           AS cbrt_q,
               ROUND(EXP(1.0 / qty), 6)      AS exp_inv_q,
               ROUND(POWER(qty, 1.5), 6)     AS pow_1_5
        FROM q
    """,
    tags=("scalar", "math", "lineitem"),
)
def scalar_math_log_exp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSCENDENTAL-FUNCTION battery over exact integer quantities —
    the cross-engine libm parity contract (sibling of
    ``scalar_math_rounding_battery``, which pins rounding modes): ln /
    log10 / log2 / sqrt / cbrt / exp / power evaluated on the DISTINCT
    integer quantity domain (~50 rows after one map-side-combinable
    aggregate, so each libm call happens once per distinct input on
    identical arguments — bit-identical results on one host's libm,
    and any engine that substituted a fast-math approximation would
    red-flag instantly). Arguments >= 1 keep every log nonnegative (no
    -0.0 exposure) and every function total. 100 TB: the battery cost
    is the group-by; the transcendentals run on the 50-row result."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("qty")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return q.select(
        "qty",
        "n",
        F.round(F.log(F.col("qty")), 6).alias("ln_q"),
        F.round(F.log10("qty"), 6).alias("log10_q"),
        F.round(F.log2("qty"), 6).alias("log2_q"),
        F.round(F.sqrt("qty"), 6).alias("sqrt_q"),
        F.round(F.cbrt("qty"), 6).alias("cbrt_q"),
        F.round(F.exp(1.0 / F.col("qty")), 6).alias("exp_inv_q"),
        F.round(F.pow("qty", F.lit(1.5)), 6).alias("pow_1_5"),
    )


# ---------------------------------------------------------------------------
# json + variant: extraction-path crosswalk census
# ---------------------------------------------------------------------------


@query(
    "scalar_json_variant_crosswalk",
    oracle="""
        WITH x AS (
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)  AS n,
               CAST(COUNT(k) AS BIGINT)  AS n_extractable,
               CAST(COUNT(k) AS BIGINT)  AS n_agree,
               CAST(SUM(k) AS BIGINT)    AS sum_k,
               CAST(MIN(k) AS BIGINT)    AS min_k,
               CAST(MAX(k) AS BIGINT)    AS max_k
        FROM x GROUP BY event_type
    """,
    tags=("scalar", "json", "variant", "events"),
)
def scalar_json_variant_crosswalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-vs-VARIANT extraction CROSSWALK: the same ``$.k`` path read
    THREE ways on the Spark side — string-path ``get_json_object``,
    schema-full ``from_json``, and Spark 4's binary-encoded
    ``parse_json`` + ``try_variant_get`` — with ``n_agree`` counting
    rows where all three produce the same value. The operator pins the
    migration contract a lakehouse needs before swapping stringly-JSON
    columns for VARIANT: any parser/caster divergence (whitespace,
    overflow, null-vs-missing) splits n_agree from n_extractable and
    the driver's hash sees it (the oracle, with one parser, asserts
    they coincide). Sums/extrema exact integers. 100 TB: all three
    extractions are map-only expressions in one projection — the
    census costs one event_type-keyed aggregate."""
    from pyspark.sql.types import LongType, StructField, StructType

    e = load_table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k").cast("bigint")
    k_schema = F.from_json(
        F.col("props"), StructType([StructField("k", LongType())])
    )["k"]
    k_var = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    x = e.select(
        "event_type",
        k_str.alias("k1"),
        k_schema.alias("k2"),
        k_var.alias("k3"),
    )
    agree = (
        F.col("k1").isNotNull()
        & (F.col("k1") == F.col("k2"))
        & (F.col("k2") == F.col("k3"))
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("k1").cast("bigint").alias("n_extractable"),
        F.sum(F.when(agree, 1).otherwise(0)).cast("bigint").alias("n_agree"),
        F.sum("k1").cast("bigint").alias("sum_k"),
        F.min("k1").cast("bigint").alias("min_k"),
        F.max("k1").cast("bigint").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# array + map: entries-array -> map -> ordered value fold
# ---------------------------------------------------------------------------


@query(
    "scalar_map_array_pivot_fold",
    oracle="""
        WITH s AS (
            SELECT o_orderpriority AS priority, o_orderstatus AS status,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_orderpriority, o_orderstatus
        )
        SELECT priority,
               CAST(COUNT(*) AS BIGINT) AS n_statuses,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               string_agg(status || ':' || CAST(cents AS VARCHAR),
                          ',' ORDER BY status) AS kv_serialized
        FROM s GROUP BY priority
    """,
    tags=("scalar", "array", "map", "orders"),
)
def scalar_map_array_pivot_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTRIES-ARRAY → MAP → ORDERED-FOLD pipeline: per order priority,
    collect (status, exact-cents) entries, sort them (map entry order
    is engine-private — serialization MUST come from the sorted array,
    never from map iteration), build a real MapType via
    ``map_from_entries``, then fold the map's values back to a total
    with ``aggregate(map_values(...))`` and serialize the sorted
    entries as the portable ``k:v,...`` string. The operator pins the
    map-column round-trip contract (array→map→array) a feature-store
    export needs; the oracle never builds a map at all — it asserts
    the VALUES with a keyed aggregate + ordered string_agg, which is
    what makes a nondeterministic map iteration observable. All exact
    integers. 100 TB: one groupBy(priority, status) map-side-
    combinable aggregate, then |priorities| in-row folds over
    |statuses|-entry arrays."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    s = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    per_p = s.groupBy("priority").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("status"), F.col("cents")))
        ).alias("entries")
    )
    m = F.map_from_entries("entries")
    total = F.aggregate(
        F.map_values(m), F.lit(0).cast("bigint"), lambda a, v: a + v
    )
    kv = F.array_join(
        F.transform(
            F.col("entries"),
            lambda s_: F.concat_ws(":", s_["status"], s_["cents"].cast("string")),
        ),
        ",",
    )
    return per_p.select(
        "priority",
        F.size(F.map_keys(m)).cast("bigint").alias("n_statuses"),
        total.cast("bigint").alias("total_cents"),
        kv.alias("kv_serialized"),
    )


# ---------------------------------------------------------------------------
# string: transform battery over the head tokens
# ---------------------------------------------------------------------------

STR_TOPK = 20


@query(
    "scalar_string_transform_battery",
    oracle=f"""
        WITH toks AS (
            SELECT UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        top AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
                        AS BIGINT) AS rk
            FROM toks GROUP BY tok QUALIFY rk <= {STR_TOPK}
        )
        SELECT rk, tok, n,
               upper(tok)                   AS up,
               reverse(tok)                 AS rev,
               translate(tok, 'aeiou', '*****') AS vowels_masked,
               replace(tok, 'e', 'ee')      AS e_doubled,
               lpad(tok, 12, '.')           AS padded,
               CAST(length(tok) AS BIGINT)  AS len
        FROM top
    """,
    tags=("scalar", "string", "topk", "documents"),
)
def scalar_string_transform_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING TRANSFORM battery over the top-20 corpus tokens —
    upper / reverse / translate / replace / lpad / length evaluated on
    identical inputs by both engines (the string sibling of the libm
    batteries: any locale-sensitive or off-by-one divergence in the
    kernel implementations shows up as a hash flip on real head
    tokens, where it matters). The probe set is the deterministic
    frequency top-k with full tiebreak, so the battery rides a
    realistic distribution rather than literals. 100 TB: one
    token-keyed count + a 20-row top-k; the transforms run on 20
    rows."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rk = F.row_number().over(Window.orderBy(F.col("n").desc(), "tok"))
    top = cnt.select(rk.cast("bigint").alias("rk"), "tok", "n").filter(
        F.col("rk") <= STR_TOPK
    )
    return top.select(
        "rk",
        "tok",
        "n",
        F.upper("tok").alias("up"),
        F.reverse("tok").alias("rev"),
        F.translate("tok", "aeiou", "*****").alias("vowels_masked"),
        F.regexp_replace("tok", "e", "ee").alias("e_doubled"),
        F.lpad("tok", 12, ".").alias("padded"),
        F.length("tok").cast("bigint").alias("len"),
    )


# ---------------------------------------------------------------------------
# math: bitwise battery over order keys
# ---------------------------------------------------------------------------


@query(
    "scalar_math_gray_code_rollup",
    oracle="""
        SELECT o_orderkey % 16 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey & 255) AS BIGINT)            AS sum_and,
               CAST(SUM(o_orderkey | 15) AS BIGINT)             AS sum_or,
               CAST(SUM(xor(o_orderkey, o_orderkey >> 1))
                    AS BIGINT)                                   AS sum_gray,
               CAST(SUM(o_orderkey << 2) AS BIGINT)             AS sum_shl2,
               CAST(SUM(bit_count(o_orderkey)) AS BIGINT)       AS sum_pop
        FROM orders GROUP BY o_orderkey % 16
    """,
    tags=("scalar", "math", "bitwise", "orders"),
)
def scalar_math_gray_code_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAY-CODE BITWISE ROLLUP — AND/OR/XOR/shift/popcount AGGREGATED
    per key bucket (the per-ROW battery is `scalar_math_bitwise_battery`;
    this pins the same operators under map-side-combined SUMs, where a
    single-row divergence hides in a checksum instead of a row), with
    the GRAY CODE k ⊕ (k>>1) as the composite
    probe (any off-by-one in shift or xor semantics breaks every
    bucket). All pure int64 arithmetic: Spark's &, |, ^, shiftleft,
    bit_count against DuckDB's operators and xor()/bit_count()
    functions — same two's-complement semantics, pinned by hash. The
    shifted sum stays in int64 (orderkeys ≤ ~6e6 at sf0.1; ×4 ≈ 2.4e7
    per row, ~4e11 rows of headroom per bucket — the DECIMAL
    escalation point is documented). 100 TB: one map-side-combinable
    aggregate, 16 output rows."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.groupBy((k % 16).alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(k.bitwiseAND(F.lit(255))).cast("bigint").alias("sum_and"),
        F.sum(k.bitwiseOR(F.lit(15))).cast("bigint").alias("sum_or"),
        F.sum(k.bitwiseXOR(F.shiftright(k, 1))).cast("bigint").alias("sum_gray"),
        F.sum(F.shiftleft(k, 2)).cast("bigint").alias("sum_shl2"),
        F.sum(F.bit_count(k)).cast("bigint").alias("sum_pop"),
    )


# ---------------------------------------------------------------------------
# json: object-keys census over constructed + stored JSON
# ---------------------------------------------------------------------------


@query(
    "scalar_json_keys_census",
    oracle="""
        WITH x AS (
            SELECT event_type,
                   json_keys(props) AS pkeys,
                   json_keys(to_json(struct_pack(u := user_id,
                                                 t := event_type,
                                                 v := value))) AS ckeys
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(len(pkeys)) AS BIGINT) AS total_prop_keys,
               MIN(array_to_string(pkeys, ',')) AS prop_keys_sig,
               MIN(array_to_string(ckeys, ',')) AS built_keys_sig
        FROM x GROUP BY event_type
    """,
    tags=("scalar", "json", "events"),
)
def scalar_json_keys_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON OBJECT-KEYS census over BOTH stored and engine-constructed
    documents: `json_object_keys` on the props column (schema
    discovery — the first thing a lake pipeline does to a stringly
    column) and on a struct serialized by the engine itself
    (to_json(struct(...)) — pinning that BOTH engines emit the
    struct's declared field order, which is what makes downstream
    key-order-sensitive parsers portable). Key lists serialize
    through the house array_join-before-compare rule (the r03
    unhashable-cell class). 100 TB: map-only key extraction + one
    event_type-keyed aggregate."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        F.json_object_keys("props").alias("pkeys"),
        F.json_object_keys(
            F.to_json(
                F.struct(
                    F.col("user_id").alias("u"),
                    F.col("event_type").alias("t"),
                    F.col("value").alias("v"),
                )
            )
        ).alias("ckeys"),
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size("pkeys")).cast("bigint").alias("total_prop_keys"),
        F.min(F.array_join("pkeys", ",")).alias("prop_keys_sig"),
        F.min(F.array_join("ckeys", ",")).alias("built_keys_sig"),
    )


# ---------------------------------------------------------------------------
# array + map: integer index/lookup battery
# ---------------------------------------------------------------------------


@query(
    "scalar_array_map_index_battery",
    oracle="""
        WITH x AS (
            SELECT vec_id % 10 AS bucket,
                   range(1, vec_id % 10 + 4) AS seq
            FROM embeddings
        ),
        y AS (
            SELECT bucket,
                   CAST(len(seq) AS BIGINT) AS seq_len,
                   CAST(seq[1] AS BIGINT) AS first_el,
                   CAST(seq[len(seq)] AS BIGINT) AS last_el,
                   CAST(list_position(seq, 3) AS BIGINT) AS pos_of_3,
                   CAST(list_sum(list_transform(seq, v -> v * v))
                        AS BIGINT) AS sum_sq,
                   CAST(list_sum(seq[2:]) AS BIGINT) AS tail_sum
            FROM x
        )
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(seq_len) AS BIGINT) AS seq_len,
               CAST(MIN(first_el) AS BIGINT) AS first_el,
               CAST(MIN(last_el) AS BIGINT) AS last_el,
               CAST(MIN(COALESCE(pos_of_3, 0)) AS BIGINT) AS pos_of_3,
               CAST(SUM(sum_sq) AS BIGINT) AS total_sum_sq,
               CAST(SUM(tail_sum) AS BIGINT) AS total_tail_sum
        FROM y GROUP BY bucket
    """,
    tags=("scalar", "array", "map", "embeddings"),
)
def scalar_array_map_index_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY INDEX/SLICE/LOOKUP battery on engine-CONSTRUCTED integer
    sequences (seq = 1..(vec_id%10)+3 — deterministic per row, so the
    battery pins 1-BASED indexing, inclusive-slice, position-of, and
    higher-order transform semantics across engines on exact
    integers; Spark additionally routes the squared-sum through a
    REAL MapType — map_from_arrays + map_values — proving the
    map-column path produces the same integers the oracle computes
    array-only). Missing lookups (3 ∉ short seqs) pin the
    position-zero convention via COALESCE on both sides. 100 TB:
    map-only construction + one 10-bucket aggregate."""
    em = load_table(spark, sf_dir, "embeddings")
    seq = F.sequence(F.lit(1), F.col("vec_id") % 10 + 3)
    x = em.select((F.col("vec_id") % 10).alias("bucket"), seq.alias("seq"))
    m = F.map_from_arrays(
        F.col("seq"), F.transform(F.col("seq"), lambda v: v * v)
    )
    y = x.select(
        "bucket",
        F.size("seq").cast("bigint").alias("seq_len"),
        F.element_at("seq", 1).cast("bigint").alias("first_el"),
        F.element_at("seq", -1).cast("bigint").alias("last_el"),
        F.array_position("seq", 3).cast("bigint").alias("pos_of_3"),
        F.aggregate(
            F.map_values(m), F.lit(0).cast("bigint"), lambda a, v: a + v
        ).alias("sum_sq"),
        F.aggregate(
            F.slice("seq", 2, F.size("seq") - 1),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).alias("tail_sum"),
    )
    return y.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("seq_len").cast("bigint").alias("seq_len"),
        F.min("first_el").cast("bigint").alias("first_el"),
        F.min("last_el").cast("bigint").alias("last_el"),
        F.min(F.coalesce("pos_of_3", F.lit(0))).cast("bigint").alias("pos_of_3"),
        F.sum("sum_sq").cast("bigint").alias("total_sum_sq"),
        F.sum("tail_sum").cast("bigint").alias("total_tail_sum"),
    )


# ---------------------------------------------------------------------------
# variant: present-null vs missing-path census
# ---------------------------------------------------------------------------


@query(
    "scalar_variant_null_vs_missing_census",
    oracle="""
        WITH v AS (
            SELECT event_type,
                   CASE WHEN event_id % 3 = 0
                        THEN '{"v": ' || json_extract_string(props, '$.k')
                             || ', "n": null}'
                        ELSE '{"v": ' || json_extract_string(props, '$.k')
                             || '}' END AS doc
            FROM events
        ),
        f AS (
            SELECT event_type,
                   CAST(json_extract_string(doc, '$.v') AS BIGINT) AS v_typed,
                   json_type(doc, '$.n') = 'NULL' AS n_present_null,
                   json_type(doc, '$.n') IS NULL  AS n_missing
            FROM v
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN n_present_null THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_present_null,
               CAST(SUM(CASE WHEN n_missing THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_missing,
               CAST(SUM(v_typed) AS BIGINT) AS v_sum
        FROM f GROUP BY event_type
    """,
    tags=("scalar", "variant", "json", "events"),
)
def scalar_variant_null_vs_missing_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VARIANT NULL-DISCIPLINE CENSUS: the aggregate face of the
    present-null vs missing-path distinction (the per-row probe is
    ``scalar_variant_mixed_scalars``) — a third of the documents carry
    an EXPLICIT ``"n": null``, the rest omit the key entirely, and the
    census counts each discipline per event_type: ``is_variant_null``
    over a present path vs SQL-NULL from ``try_variant_get`` on a
    missing one. This is the contract a schema-inference pass needs
    (a column that is 30%% explicit-null and 70%% absent is NOT a 100%%
    nullable column). The typed-int sum rides along so the VARIANT
    decode path is value-checked, not just flag-checked. All exact
    integers. 100 TB: map-only parse + one keyed aggregate."""
    e = load_table(spark, sf_dir, "events")
    doc = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(
            F.lit('{"v": '),
            F.get_json_object("props", "$.k"),
            F.lit(', "n": null}'),
        ),
    ).otherwise(
        F.concat(
            F.lit('{"v": '), F.get_json_object("props", "$.k"), F.lit("}")
        )
    )
    v = F.parse_json(doc)
    probe = F.try_variant_get(v, "$.n", "variant")
    f = e.select(
        "event_type",
        F.try_variant_get(v, "$.v", "bigint").alias("v_typed"),
        F.coalesce(F.is_variant_null(probe), F.lit(False)).alias(
            "n_present_null"
        ),
        probe.isNull().alias("n_missing"),
    )
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("n_present_null"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_present_null"),
        F.sum(F.when(F.col("n_missing"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing"),
        F.sum("v_typed").cast("bigint").alias("v_sum"),
    )
