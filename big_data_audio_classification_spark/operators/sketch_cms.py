"""Count-min sketch: mergeable point-frequency estimates with the
one-sided CMS error guarantee, verified against exact counts.

Rounds out the mergeable-sketch family (HLL distinct counts,
approx-percentile, approx_top_k heavy hitters, bitmap exact distinct —
aggregates.py) with the remaining classic: point frequency queries
under a fixed memory budget. At 100 TB the sketch is the only way to
answer "how often does key X occur" for ad-hoc X without a full
key-shuffle — CMS partials are (depth×width) integer grids that merge
by cellwise addition, so they compose under any rollup exactly like
the HLL partials.

Spark's `count_min_sketch` aggregate emits the sketch in the
documented stream-lib serialized layout (version, totalCount, depth,
width, the pairwise-independent hash coefficients, then the counter
grid — big-endian longs). The probe decodes ONE collected blob on the
driver (the bounded scalar-attach pattern, cf. the 2×2 confusion
matrix in audio.py) and re-evaluates the stream-lib hash
``((a·x) mod (2³¹−1)) mod width`` with Java 64-bit wrap semantics —
public arithmetic, no JVM round-trip.

Oracle contract (same as the HLL/approx_top_k rows): exact counts are
hash-checked value-for-value; the sketch estimate is asserted to land
inside its guarantee (exact ≤ estimate ≤ exact + ⌈ε·N⌉, which holds
with probability ≥ δ per probe) as a boolean DuckDB states as TRUE.
"""

from __future__ import annotations

import math
import struct

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

CMS_EPS = 0.001
CMS_CONF = 0.99
CMS_SEED = 42
CMS_DOMAIN = 512  # probe key space: o_custkey % CMS_DOMAIN
CMS_PROBES = 8  # probe keys 0..7

_MERSENNE31 = (1 << 31) - 1
_I64_MASK = (1 << 64) - 1


def _j64(x: int) -> int:
    """Wrap a Python int to Java signed-64 semantics."""
    x &= _I64_MASK
    return x - (1 << 64) if x >= (1 << 63) else x


def decode_cms(blob: bytes) -> tuple[int, list[int], list[tuple[int, ...]]]:
    """Parse the stream-lib CMS layout: version, totalCount, depth,
    width, hashA[depth], table[depth][width] (big-endian)."""
    off = 0
    (version,) = struct.unpack_from(">i", blob, off)
    off += 4
    if version != 1:
        raise ValueError(f"unsupported CMS serialization version {version}")
    (total,) = struct.unpack_from(">q", blob, off)
    off += 8
    (depth,) = struct.unpack_from(">i", blob, off)
    off += 4
    (width,) = struct.unpack_from(">i", blob, off)
    off += 4
    hash_a = list(struct.unpack_from(f">{depth}q", blob, off))
    off += 8 * depth
    table = []
    for _ in range(depth):
        table.append(struct.unpack_from(f">{width}q", blob, off))
        off += 8 * width
    if off != len(blob):
        raise ValueError(f"CMS blob length mismatch: {off} != {len(blob)}")
    return total, hash_a, table


def cms_estimate_long(
    item: int, hash_a: list[int], table: list[tuple[int, ...]]
) -> int:
    """stream-lib point query for a long item: min over rows of the
    cell at ``((a·x) mod 2³¹−1) mod width`` (Mersenne-mod via the
    add-high-32 trick, Java arithmetic)."""
    width = len(table[0])
    est = None
    for i, a in enumerate(hash_a):
        h = _j64(a * item)
        h = _j64(h + (h >> 32))
        h &= _MERSENNE31
        c = table[i][int(h) % width]
        est = c if est is None else min(est, c)
    return int(est)


@query(
    "agg_count_min_sketch",
    oracle=f"""
        SELECT o_custkey % {CMS_DOMAIN} AS k,
               CAST(COUNT(*) AS BIGINT) AS exact_cnt,
               TRUE AS within_bounds
        FROM orders
        WHERE o_custkey % {CMS_DOMAIN} < {CMS_PROBES}
        GROUP BY o_custkey % {CMS_DOMAIN}
    """,
    tags=("aggregate", "sketch", "cms", "orders"),
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-frequency estimates from ONE count_min_sketch aggregate
    over all orders, probed for 8 keys and checked against the exact
    counts: exact ≤ estimate ≤ exact + ⌈ε·N⌉.

    The sketch is a single O(depth×width) scalar aggregate (map-side
    partials merge cellwise — the mergeable path); exact counts come
    from a filtered groupBy over the 8 probe keys only. The decode
    touches one collected blob (bounded driver work)."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select((F.col("o_custkey") % CMS_DOMAIN).alias("k"))
    blob_row = keyed.agg(
        F.expr(
            f"count_min_sketch(k, {CMS_EPS}d, {CMS_CONF}d, {CMS_SEED})"
        ).alias("sketch")
    ).collect()[0]
    total, hash_a, table = decode_cms(bytes(blob_row["sketch"]))
    slack = math.ceil(CMS_EPS * total)
    est_rows = [
        (k, cms_estimate_long(k, hash_a, table)) for k in range(CMS_PROBES)
    ]
    est_df = spark.createDataFrame(est_rows, "k bigint, cms_est bigint")
    exact = (
        keyed.where(F.col("k") < CMS_PROBES)
        .groupBy("k")
        .agg(F.count("*").alias("exact_cnt"))
    )
    return exact.join(F.broadcast(est_df), "k").select(
        "k",
        "exact_cnt",
        (
            (F.col("cms_est") >= F.col("exact_cnt"))
            & (F.col("cms_est") <= F.col("exact_cnt") + F.lit(slack))
        ).alias("within_bounds"),
    )


def merge_cms_blobs(blobs: list[bytes]) -> tuple[int, list[int], list[tuple[int, ...]]]:
    """Cellwise-add CMS grids built with the same eps/conf/seed — the
    mergeability that makes the sketch a streaming/rollup partial.
    Refuses blobs whose geometry or hash family differ (different
    seeds don't share a hash family; adding their grids is
    meaningless)."""
    total, hash_a, table = decode_cms(blobs[0])
    grid = [list(row) for row in table]
    for b in blobs[1:]:
        t2, h2, tab2 = decode_cms(b)
        if h2 != hash_a or len(tab2) != len(grid) or len(tab2[0]) != len(grid[0]):
            raise ValueError("incompatible CMS partials (geometry/hash family)")
        total += t2
        for i, row in enumerate(tab2):
            gi = grid[i]
            for j, v in enumerate(row):
                gi[j] += v
    return total, hash_a, [tuple(r) for r in grid]


# ---------------------------------------------------------------------------
# sketch: portable Bloom filter with measured vs theoretical FPR
# ---------------------------------------------------------------------------

BLOOM_M = 16_384  # bits
BLOOM_K = 3       # hash functions (disjoint md5 hex windows)


def _bloom_hash_sql(col: str, j: int) -> str:
    lo = 1 + 6 * j
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), {lo}, 6))"
        f" AS BIGINT) % {BLOOM_M}"
    )


@query(
    "sketch_bloom_filter_portable",
    oracle=f"""
        WITH ins AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_mktsegment = 'BUILDING'
        ),
        probe AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_mktsegment = 'MACHINERY'
        ),
        bits AS (
            SELECT DISTINCT pos FROM (
                SELECT {_bloom_hash_sql('k', 0)} AS pos FROM ins
                UNION ALL SELECT {_bloom_hash_sql('k', 1)} FROM ins
                UNION ALL SELECT {_bloom_hash_sql('k', 2)} FROM ins
            )
        ),
        hits AS (
            SELECT p.k, COUNT(b.pos) AS n_hit
            FROM (
                SELECT k, {_bloom_hash_sql('k', 0)} AS pos FROM probe
                UNION ALL SELECT k, {_bloom_hash_sql('k', 1)} FROM probe
                UNION ALL SELECT k, {_bloom_hash_sql('k', 2)} FROM probe
            ) p LEFT JOIN bits b ON p.pos = b.pos
            GROUP BY p.k
        ),
        stats AS (
            SELECT CAST((SELECT COUNT(*) FROM ins) AS BIGINT)  AS n_inserted,
                   CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
                   CAST((SELECT COUNT(*) FROM probe) AS BIGINT) AS n_probed,
                   CAST((SELECT COUNT(*) FROM hits WHERE n_hit = {BLOOM_K})
                        AS BIGINT)                             AS n_false_pos
        )
        SELECT n_inserted, n_bits_set, n_probed, n_false_pos,
               ROUND(CAST(n_false_pos AS DOUBLE) / n_probed, 6)
                   AS measured_fpr,
               ROUND(POWER(CAST(n_bits_set AS DOUBLE) / {BLOOM_M},
                           {BLOOM_K}), 6) AS occupancy_fpr
        FROM stats
    """,
    tags=("aggregate", "sketch", "customer"),
)
def sketch_bloom_filter_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE BLOOM FILTER, simulated relationally and calibrated:
    insert one customer segment's keys (k=3 hash functions = disjoint
    md5 hex windows mod m=16384 — the same cross-engine-identical hash
    family as ``token_hash``), probe a DISJOINT segment, and report
    measured false-positive rate against the occupancy-based
    prediction (bits_set/m)^k — the calibration every engine's
    bloom-filter JOIN PRUNING rests on (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` makes exactly this
    trade). The filter IS a relation (distinct bit positions), insert
    is a union+distinct, probe is a LEFT equi-join counting hits = k —
    no engine-specific sketch binary crosses the contract, so the
    oracle checks the SAME filter bit-for-bit. All integers up to two
    final float expressions. At 100 TB: bits table ≤ m rows regardless
    of key count; probe is one broadcast-join pass."""
    c = load_table(spark, sf_dir, "customer")
    ins = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    probe = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("k")
    )

    def hpos(j: int):
        lo = 1 + 6 * j
        return (
            F.conv(F.substring(F.md5(F.col("k").cast("string")), lo, 6), 16, 10)
            .cast("bigint") % BLOOM_M
        )

    bits = (
        ins.select(hpos(0).alias("pos"))
        .unionAll(ins.select(hpos(1).alias("pos")))
        .unionAll(ins.select(hpos(2).alias("pos")))
        .distinct()
    )
    probe_pos = (
        probe.select("k", hpos(0).alias("pos"))
        .unionAll(probe.select("k", hpos(1).alias("pos")))
        .unionAll(probe.select("k", hpos(2).alias("pos")))
    )
    hits = (
        probe_pos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("k")
        .agg(F.count("hit").alias("n_hit"))
    )
    stats = (
        ins.agg(F.count(F.lit(1)).cast("bigint").alias("n_inserted"))
        .crossJoin(
            F.broadcast(
                bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
            )
        )
        .crossJoin(
            F.broadcast(
                probe.agg(F.count(F.lit(1)).cast("bigint").alias("n_probed"))
            )
        )
        .crossJoin(
            F.broadcast(
                hits.filter(F.col("n_hit") == BLOOM_K).agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_false_pos")
                )
            )
        )
    )
    return stats.select(
        "n_inserted",
        "n_bits_set",
        "n_probed",
        "n_false_pos",
        F.round(
            F.col("n_false_pos").cast("double") / F.col("n_probed"), 6
        ).alias("measured_fpr"),
        F.round(
            F.pow(
                F.col("n_bits_set").cast("double") / BLOOM_M, float(BLOOM_K)
            ),
            6,
        ).alias("occupancy_fpr"),
    )


# ---------------------------------------------------------------------------
# sketch: portable HyperLogLog with measured-vs-exact distinct
# ---------------------------------------------------------------------------

HLL_P = 8                       # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_WBITS = 32 - HLL_P          # 24 rank bits per hashed key
_HLL_ALPHA = ("(CAST(0.7213 AS DOUBLE) / "
              "(CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256.0))")
# alpha_256 — explicit DOUBLE casts: bare numeric literals parse as
# DECIMAL in BOTH engines and Spark would carry decimal arithmetic
# into the estimate (typed-hash mismatch caught at the gate)


def _bitlen_case_sql(col: str, bits: int) -> str:
    branches = " ".join(
        f"WHEN {col} >= {1 << (k - 1)} THEN {k}"
        for k in range(bits, 0, -1)
    )
    return f"CASE {branches} ELSE 0 END"


@query(
    "sketch_hll_portable",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT UNNEST(list_filter(string_split(text, ' '),
                                   t -> t <> '')) AS tok
            FROM documents
        ),
        h AS (
            SELECT CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hv
            FROM toks
        ),
        regs AS (
            SELECT hv >> {HLL_WBITS} AS bucket,
                   MAX({HLL_WBITS + 1}
                       - {_bitlen_case_sql(f"(hv & {(1 << HLL_WBITS) - 1})",
                                           HLL_WBITS)}) AS m
            FROM h GROUP BY hv >> {HLL_WBITS}
        ),
        spine AS (SELECT UNNEST(range(0, {HLL_M})) AS bucket),
        full_regs AS (
            SELECT s.bucket, COALESCE(r.m, 0) AS m
            FROM spine s LEFT JOIN regs r ON s.bucket = r.bucket
        ),
        s AS (
            SELECT CAST(SUM(CAST(1 AS BIGINT)
                            << ({HLL_WBITS + 1} - m)) AS BIGINT) AS s_int,
                   CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_zero
            FROM full_regs
        ),
        x AS (
            SELECT s_int, n_zero,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS n_exact,
                   ({_HLL_ALPHA}) * {HLL_M} * {HLL_M}
                       * {1 << (HLL_WBITS + 1)} / s_int AS e_raw
            FROM s
        )
        SELECT n_exact, n_zero,
               ROUND(e_raw, 4) AS raw_estimate,
               ROUND(CASE WHEN e_raw <= 2.5 * {HLL_M} AND n_zero > 0
                          THEN {HLL_M} * LN({HLL_M} / CAST(n_zero AS DOUBLE))
                          ELSE e_raw END, 4) AS corrected_estimate,
               -- + 0 normalizes DuckDB ROUND's -0.0 (rel_error is
               -- negative whenever HLL underestimates; r08 review)
               ROUND((CASE WHEN e_raw <= 2.5 * {HLL_M} AND n_zero > 0
                           THEN {HLL_M} * LN({HLL_M} / CAST(n_zero AS DOUBLE))
                           ELSE e_raw END - n_exact)
                     / n_exact, 4) + 0 AS rel_error
        FROM x
    """,
    tags=("aggregate", "sketch", "dedup", "documents"),
)
def sketch_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HYPERLOGLOG, simulated relationally and calibrated
    against the exact distinct count: hash every distinct token with
    the cross-engine md5 family, split top-8 bits → 256 registers,
    register value = leading-zero rank of the remaining 24 bits
    (computed by a pure-integer comparison CASE — never a float log2,
    whose boundary ULPs differ per libm), and the harmonic-mean
    estimator Σ2^(−M_j) accumulated as an EXACT INTEGER in units of
    2⁻²⁵ (every term is a power of two, so the sum is exact and
    order-independent) before the one float estimate expression,
    Flajolet's small-range correction m·ln(m/V) included. The engines'
    own HLLs (approx_count_distinct vs DuckDB's) can never cross-check
    — different hash families — so this carrier IS the portable
    contract, with measured relative error in the output (companion
    sketches: ``sketch_bloom_filter_portable``, ``agg_kmv_distinct_
    sketch``, theta setops). One token pass + one 256-row aggregate at
    any SF; the register table is the whole sketch state."""
    from big_data_audio_classification_spark.operators.dedup import (
        token_hash,
        tokens_col,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .distinct()
        .persist()
    )
    h = toks.select(token_hash(F.col("tok")).alias("hv"))
    wmask = (1 << HLL_WBITS) - 1
    w = F.col("hv").bitwiseAND(F.lit(wmask))
    bitlen = F.lit(0)
    for k in range(1, HLL_WBITS + 1):
        bitlen = F.when(w >= (1 << (k - 1)), k).otherwise(bitlen)
    regs = h.groupBy(
        F.shiftright("hv", HLL_WBITS).alias("bucket")
    ).agg(F.max(F.lit(HLL_WBITS + 1) - bitlen).alias("m"))
    spine = spark.range(HLL_M).select(F.col("id").alias("bucket"))
    full_regs = spine.join(regs, "bucket", "left").select(
        "bucket", F.coalesce("m", F.lit(0)).alias("m")
    )
    s = full_regs.agg(
        F.sum(F.expr(f"CAST(1 AS BIGINT) << ({HLL_WBITS + 1} - m)"))
        .cast("bigint")
        .alias("s_int"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    n_exact = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    x = s.crossJoin(F.broadcast(n_exact)).select(
        "s_int",
        "n_zero",
        "n_exact",
        (
            F.expr(_HLL_ALPHA)
            * HLL_M
            * HLL_M
            * (1 << (HLL_WBITS + 1))
            / F.col("s_int")
        ).alias("e_raw"),
    )
    corrected = F.when(
        (F.col("e_raw") <= 2.5 * HLL_M) & (F.col("n_zero") > 0),
        HLL_M * F.log(HLL_M / F.col("n_zero").cast("double")),
    ).otherwise(F.col("e_raw"))
    return x.select(
        "n_exact",
        "n_zero",
        F.round("e_raw", 4).alias("raw_estimate"),
        F.round(corrected, 4).alias("corrected_estimate"),
        F.round((corrected - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_error"
        ),
    )


# ---------------------------------------------------------------------------
# sketch + skew: portable Count-Min heavy-hitter workflow
# ---------------------------------------------------------------------------

CMHH_DEPTH = 4
CMHH_WIDTH = 64
CMHH_TOPK = 10
_CMHH_M = 2147483647  # 2^31 - 1, matches the MinHash permutation family
_CMHH_A = [2 * j + 3 for j in range(CMHH_DEPTH)]
_CMHH_B = [7919 * (j + 1) % _CMHH_M for j in range(CMHH_DEPTH)]


def _cmhh_sql() -> str:
    rows = ", ".join(
        f"((hv * {_CMHH_A[j]} + {_CMHH_B[j]}) % {_CMHH_M}) % {CMHH_WIDTH}"
        for j in range(CMHH_DEPTH)
    )
    ests = ", ".join(
        f"""(SELECT cm.c FROM cm
             WHERE cm.j = {j} AND cm.b =
                   ((t.hv * {_CMHH_A[j]} + {_CMHH_B[j]}) % {_CMHH_M})
                   % {CMHH_WIDTH})"""
        for j in range(CMHH_DEPTH)
    )
    return f"""
        WITH h AS (
            SELECT user_id,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS hv
            FROM events
        ),
        buckets AS (
            SELECT UNNEST([{rows}]) AS b,
                   UNNEST(range({CMHH_DEPTH})) AS j
            FROM h
        ),
        cm AS (
            SELECT j, b, CAST(COUNT(*) AS BIGINT) AS c
            FROM buckets GROUP BY j, b
        ),
        exact AS (
            SELECT user_id, MIN(hv) AS hv, CAST(COUNT(*) AS BIGINT) AS exact_cnt
            FROM h GROUP BY user_id
        ),
        top AS (
            SELECT user_id, hv, exact_cnt,
                   CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, user_id)
                        AS BIGINT) AS rk
            FROM exact QUALIFY rk <= {CMHH_TOPK}
        )
        SELECT rk, user_id, exact_cnt,
               least({ests}) AS cm_est,
               least({ests}) - exact_cnt AS overestimate
        FROM top t
    """


@query(
    "sketch_countmin_heavy_hitters",
    oracle=_cmhh_sql(),
    tags=("sketch", "skew", "scale", "aggregate", "events"),
)
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE Count-Min HEAVY-HITTER workflow — the skew-triage use
    of the sketch (vs ``agg_count_min_sketch``, which probes Spark's
    native opaque blob for fixed keys and checks ε-bounds): build a
    depth-4 × width-64 CM grid from md5-derived affine row hashes
    (the MinHash permutation family — every term engine-portable),
    take the EXACT top-10 users by frequency (rank with user_id
    tiebreak), and report each one's CM estimate and overestimate =
    est − exact (>= 0 ALWAYS: CM never undercounts — the property a
    salting planner relies on when it sizes salt factors from sketch
    estimates instead of a second exact pass). All integers. 100 TB:
    the grid is a 256-cell map-side-combinable aggregate (the
    mergeable partial every executor ships); exact counts are one
    keyed aggregate; the probe join touches 10×4 grid cells —
    broadcast both ways."""
    e = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    # one materialization of the md5-derived row hashes: the grid AND
    # the exact counts both consume h (r10 — was two full scans, each
    # re-computing md5 per row)
    h = e.select(F.col("user_id"), hv.alias("hv")).localCheckpoint(
        eager=False
    )
    bucket_cols = [
        ((F.col("hv") * _CMHH_A[j] + _CMHH_B[j]) % _CMHH_M % CMHH_WIDTH).alias(
            f"b{j}"
        )
        for j in range(CMHH_DEPTH)
    ]
    cm = (
        h.select(
            F.posexplode(
                F.array(*[c for c in bucket_cols])
            ).alias("j", "b")
        )
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    exact = h.groupBy("user_id").agg(
        F.min("hv").alias("hv"),
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt"),
    )
    # top-10 via TakeOrderedAndProject (per-partition heaps merged on
    # the driver), NOT a row_number window over every distinct user —
    # that window moves ALL users into one partition at 100 TB (r10).
    # The rank re-attaches by a window over the <=10 surviving rows;
    # the total order (exact_cnt DESC, user_id) is identical, so
    # limit-10 + rank == the former rank-then-filter.
    rk = F.row_number().over(
        Window.orderBy(F.col("exact_cnt").desc(), "user_id")
    )
    top = (
        exact.orderBy(F.col("exact_cnt").desc(), "user_id")
        .limit(CMHH_TOPK)
        .select("*", rk.cast("bigint").alias("rk"))
    )
    probe = top.select(
        "rk",
        "user_id",
        "exact_cnt",
        F.posexplode(
            F.array(
                *[
                    (F.col("hv") * _CMHH_A[j] + _CMHH_B[j])
                    % _CMHH_M
                    % CMHH_WIDTH
                    for j in range(CMHH_DEPTH)
                ]
            )
        ).alias("j", "b"),
    )
    est = (
        probe.join(F.broadcast(cm), ["j", "b"])
        .groupBy("rk", "user_id", "exact_cnt")
        .agg(F.min("c").cast("bigint").alias("cm_est"))
    )
    return est.select(
        "rk",
        "user_id",
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).cast("bigint").alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# sketch: linear counting (bitmap distinct estimator)
# ---------------------------------------------------------------------------

LC_BUCKETS = 1024


@query(
    "sketch_linear_counting",
    oracle=f"""
        WITH h AS (
            SELECT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {LC_BUCKETS} AS bucket
            FROM events
        ),
        occ AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT bucket) AS BIGINT) AS occupied
            FROM h GROUP BY event_type
        ),
        ex AS (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY event_type
        )
        SELECT ex.event_type, ex.exact_distinct, occ.occupied,
               CASE WHEN occ.occupied < {LC_BUCKETS}
                    THEN CAST(ROUND(-{LC_BUCKETS}.0 * LN(
                         ({LC_BUCKETS}.0 - occ.occupied) / {LC_BUCKETS}.0))
                         AS BIGINT)
                    ELSE NULL END AS lc_estimate
        FROM ex JOIN occ ON ex.event_type = occ.event_type
    """,
    tags=("sketch", "aggregate", "events"),
)
def sketch_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR COUNTING distinct estimator (Whang et al. 1990) — the
    bitmap sketch that BEATS HyperLogLog at small cardinalities (the
    regime per-group rollups mostly live in, which is why engines keep
    both): hash each user into m=1024 buckets (the portable md5
    scheme), count occupied buckets, estimate n̂ = −m·ln(V/m) with V
    the EMPTY fraction. Saturation (every bucket hit) degrades to
    NULL on both engines — the estimator's honest failure mode, not
    an Inf. The estimate is ONE float expression from two exact
    integers, ROUNDed to a bigint (half-away on both engines — never
    Python). Exact distinct rides alongside so the driver hash pins
    estimator AND ground truth. 100 TB: the bitmap is a COUNT
    DISTINCT over m≤1024 bucket ids per group — partial-aggregatable,
    256 bytes of state where HLL spends 1.5 KB."""
    e = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    h = e.select("event_type", (hv % LC_BUCKETS).alias("bucket"), "user_id")
    occ = h.groupBy("event_type").agg(
        F.countDistinct("bucket").cast("bigint").alias("occupied")
    )
    ex = h.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    m = float(LC_BUCKETS)
    est = F.when(
        F.col("occupied") < LC_BUCKETS,
        F.round(-m * F.log((m - F.col("occupied")) / m)).cast("bigint"),
    )
    return (
        ex.join(occ, "event_type")
        .select("event_type", "exact_distinct", "occupied", est.alias("lc_estimate"))
    )
