"""Similarity search over the ``embeddings`` table (mandated surface,
SURVEY §2.B): brute-force cosine top-k (exact baseline), IVF-style
coarse quantization (the scale path), and MLlib LSH variants
(BucketedRandomProjection for cosine/L2, MinHashLSH for Jaccard).

Scale notes:
* Brute force is O(Q×N) — correct baseline and oracle-checkable; viable
  at 100 TB only when Q is small and broadcast (which is exactly how
  it's written: queries broadcast, candidates streamed, per-query top-k
  via window).
* IVF: assign every vector to its nearest coarse centroid (broadcast
  centroids), then search only within the probed cell — the N in
  O(Q×N) drops by the cell count. Assignment is a map-only stage.
* MLlib LSH: hash-bucket join (``approxSimilarityJoin``) — the fully
  distributed ANN path; rows-only check (MLlib's random hyperplanes are
  seed-dependent engine internals).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.functions.vector import (
    cosine,
    l2_dist_sq,
    to_double,
)
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10
IVF_CELLS = 8  # vec_id < 8 are the demo coarse centroids

_SQL_COSINE = """
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (SQRT(list_sum(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * SQRT(list_sum(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


# Named so sim_ivf_recall_at_k can reuse it as a CTE body.
_EXACT_TOPK_ORACLE = f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROUND({_SQL_COSINE}, 6) AS cos_sim
            FROM q a JOIN embeddings b ON a.vec_id <> b.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rn
              FROM scored)
        WHERE rn <= {TOP_K}
    """


@query(
    "sim_cosine_topk",
    oracle=_EXACT_TOPK_ORACLE,
    tags=("similarity", "embeddings"),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set, stream
    candidates, per-query top-k via window. The exact baseline every
    ANN variant is measured against."""
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = em.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    scored = (
        cand.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(to_double(F.col("q_emb")), to_double(F.col("embedding"))), 6)
            .alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


@query(
    "sim_ivf_assign",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
            FROM c a CROSS JOIN embeddings b
        )
        SELECT vec_id, cell_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY d2, cell_id) AS rn FROM d)
        WHERE rn = 1
    """,
    tags=("similarity", "embeddings", "ivf"),
)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: nearest-centroid assignment (broadcast
    centroids, map-only scoring, argmin via window). Downstream ANN
    probes only matching cells — the O(N)→O(N/cells) scale move."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )


@query(
    "sim_neardup_pairs",
    oracle=f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND({_SQL_COSINE}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.label = b.label
          AND ROUND({_SQL_COSINE}, 6) >= 0.25
    """,
    tags=("similarity", "dedup", "embeddings"),
)
def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label (at scale
    the block key is an LSH bucket; the verify stage is identical)."""
    em = load_table(spark, sf_dir, "embeddings")
    a = em.alias("a")
    b = em.alias("b")
    cs = F.round(
        cosine(to_double(F.col("a.embedding")), to_double(F.col("b.embedding"))), 6
    )
    return (
        a.join(
            b,
            (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("a.label") == F.col("b.label")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cs.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.25)
    )


N_PROBE = 2  # cells each query probes


# Named so sim_ivf_recall_at_k can reuse it as a CTE body.
_IVF_TOPK_ORACLE = f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        cand AS (
            SELECT vec_id, cell_id FROM (
                SELECT b.vec_id, a.cell_id,
                       ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                                       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                           a.cell_id) AS rn
                FROM c a CROSS JOIN embeddings b
            ) WHERE rn = 1
        ),
        qc AS (
            SELECT query_id, cell_id FROM (
                SELECT b.vec_id AS query_id, a.cell_id,
                       ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                                       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                           a.cell_id) AS rn
                FROM c a CROSS JOIN (SELECT * FROM embeddings
                                     WHERE vec_id < {N_QUERIES}) b
            ) WHERE rn <= {N_PROBE}
        ),
        scored AS (
            SELECT qc.query_id, cand.vec_id AS neighbor_id,
                   ROUND({_SQL_COSINE}, 6) AS cos_sim
            FROM qc
            JOIN cand ON cand.cell_id = qc.cell_id
            JOIN embeddings a ON a.vec_id = qc.query_id
            JOIN embeddings b ON b.vec_id = cand.vec_id
            WHERE cand.vec_id <> qc.query_id
        )
        SELECT query_id, neighbor_id, cos_sim
        FROM (SELECT DISTINCT query_id, neighbor_id, cos_sim FROM scored)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) <= {TOP_K}
    """


@query(
    "sim_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    tags=("similarity", "embeddings", "ivf"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF search — the 100 TB ANN path end-to-end:

    1. assign every candidate to its nearest coarse cell (map-only,
       broadcast centroids);
    2. assign each query to its ``N_PROBE`` nearest cells;
    3. **equi-join** candidates to probed cells (shuffle keyed by
       cell_id — no crossJoin against the full corpus);
    4. exact cosine within the probed cells, per-query top-k window.

    vs ``sim_cosine_topk``: the scored set shrinks from O(Q×N) to
    O(Q×N·probe/cells); recall is partial by design (approximate).
    Deterministic (data-derived centroids) → fully oracle-checkable,
    unlike the seeded MLlib LSH variants."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))

    # ONE crossJoin + ONE ranking window serves both roles: rn=1 is the
    # candidate assignment, rn<=N_PROBE (restricted to query ids) is the
    # probe list. (Two separate passes doubled the plan and ran ~3×
    # slower at sf0.01.)
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    cells = (
        em.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell_id", d2.alias("d2"))
        .select("*", F.row_number().over(w).alias("rn"))
    )
    cand_cells = cells.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    q_cells = cells.filter(
        (F.col("rn") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "cell_id")

    emb_q = em.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    emb_c = em.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    scored = (
        q_cells.join(cand_cells, "cell_id")  # the equi-join that replaces O(Q×N)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # a candidate can surface via several probed cells
        .join(F.broadcast(emb_q), "query_id")
        .join(emb_c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(to_double(F.col("q_emb")), to_double(F.col("embedding"))), 6)
            .alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


RP_TABLES = 4  # LSH tables (signatures OR-ed across tables)
RP_BITS = 6    # sign bits per table signature
RP_DIM = 64


@query(
    "sim_brp_lsh_ann",
    oracle=f"""
        WITH planes AS MATERIALIZED (
            SELECT t.t, p.p, d.i,
                   CAST(('0x' || substr(md5('rp:' || t.t || ':' || p.p || ':' || d.i),
                                        1, 8)) AS BIGINT) / 2147483648.0 - 1.0 AS w
            FROM (SELECT UNNEST(range(0, {RP_TABLES})) AS t) t,
                 (SELECT UNNEST(range(0, {RP_BITS})) AS p) p,
                 (SELECT UNNEST(range(1, {RP_DIM} + 1)) AS i) d
        ),
        dims AS (
            SELECT vec_id, d.i, CAST(embedding[d.i] AS DOUBLE) AS x
            FROM embeddings, (SELECT UNNEST(range(1, {RP_DIM} + 1)) AS i) d
        ),
        sigs AS MATERIALIZED (
            SELECT vec_id, t,
                   SUM(CASE WHEN dot >= 0 THEN CAST(POW(2, p) AS BIGINT)
                            ELSE 0 END) AS sig
            FROM (SELECT m.vec_id, pl.t, pl.p, SUM(pl.w * m.x) AS dot
                  FROM dims m JOIN planes pl ON pl.i = m.i
                  GROUP BY m.vec_id, pl.t, pl.p)
            GROUP BY vec_id, t
        ),
        cand AS (
            SELECT DISTINCT s.vec_id
            FROM sigs s JOIN sigs q ON q.t = s.t AND q.sig = s.sig
            WHERE q.vec_id = 0 AND s.vec_id <> 0
        )
        SELECT vec_id, l2_dist FROM (
            SELECT c.vec_id,
                   ROUND(SQRT(list_sum(list_transform(list_zip(e.embedding, q.embedding),
                         pr -> (CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE))
                             * (CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE))))), 6)
                       AS l2_dist,
                   ROW_NUMBER() OVER (ORDER BY
                       SQRT(list_sum(list_transform(list_zip(e.embedding, q.embedding),
                         pr -> (CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE))
                             * (CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE))))),
                       c.vec_id) AS rn
            FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN embeddings q ON q.vec_id = 0)
        WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "lsh", "embeddings"),
)
def sim_brp_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (sign) LSH approximate nearest neighbors of
    query vec_id=0 — the distributed ANN bucket-join path, written with
    DETERMINISTIC hyperplanes (weights derived from md5 of the
    (table, plane, dim) triple, identically computable by any engine)
    so the whole candidate generation is cross-engine reproducible and
    SQL-oracle-checkable (converted from the rows-only MLlib
    ``BucketedRandomProjectionLSH`` form in round 5; the MLlib variant
    stays exercised in tests/test_similarity_pq.py). Signatures are
    bit-PACKED integers (Σ 2^p over non-negative projections) — an
    order-free aggregate, immune to string-agg ordering drift.

    Scale: the plane table is 4×6×64 rows (broadcast); signature
    computation is one keyed aggregate over the exploded dims; the
    candidate step is an equi-join on (table, signature) — the same
    no-cartesian discipline as the IVF path. Exact L2 re-ranking
    touches only bucket-collision survivors."""
    em = load_table(spark, sf_dir, "embeddings")
    planes = (
        spark.range(RP_TABLES)
        .withColumnRenamed("id", "t")
        .crossJoin(spark.range(RP_BITS).withColumnRenamed("id", "p"))
        .crossJoin(
            spark.range(1, RP_DIM + 1).withColumnRenamed("id", "i")
        )
        .select(
            "t",
            "p",
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "", F.lit("rp:"), "t", F.lit(":"), "p", F.lit(":"), "i"
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                / F.lit(2147483648.0)
                - 1.0
            ).alias("w"),
        )
    )
    dims = em.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", (F.col("pos") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    sigs = (
        dims.join(F.broadcast(planes), "i")
        .groupBy("vec_id", "t", "p")
        .agg(F.sum(F.col("w") * F.col("x")).alias("dot"))
        .groupBy("vec_id", "t")
        .agg(
            F.sum(
                F.when(F.col("dot") >= 0, F.pow(F.lit(2), F.col("p")).cast("bigint"))
                .otherwise(F.lit(0))
            ).alias("sig")
        )
    )
    qsig = sigs.filter(F.col("vec_id") == 0).select("t", "sig")
    cand = (
        sigs.join(F.broadcast(qsig), ["t", "sig"])
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
        .distinct()
    )
    qemb = em.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                "embedding",
                "q_emb",
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    w = Window.orderBy("l2_raw", "vec_id")
    return (
        cand.join(em, "vec_id")
        .crossJoin(F.broadcast(qemb))
        .select("vec_id", l2.alias("l2_raw"))
        .select("vec_id", F.round("l2_raw", 6).alias("l2_dist"),
                F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


MLLIB_LSH_TAU_NUM = 4  # truth threshold: Jaccard >= 4/5 (= dist <= 0.2)
MLLIB_LSH_TAU_DEN = 5
MLLIB_LSH_RECALL_FLOOR = 0.95  # measured 1.0 at sf0.001/0.01/0.1 (seed 42)


@query(
    "sim_minhash_mllib_join",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents WHERE doc_id % 5 = 0
        ),
        tok AS (
            SELECT DISTINCT doc_id, UNNEST(toks) AS tok
            FROM d WHERE len(toks) > 0
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM tok a JOIN tok b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE {MLLIB_LSH_TAU_DEN} * i.i
                  >= {MLLIB_LSH_TAU_NUM} * (sa.sz + sb.sz - i.i)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
               TRUE AS recall_floor_ok,
               TRUE AS precision_exact
        FROM truth
    """,
    tags=("similarity", "lsh", "mllib", "quality", "documents"),
)
def sim_minhash_mllib_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH ``approxSimilarityJoin`` as a QUALITY GATE
    (r05→r06 rows-only conversion): on the deterministic 20% slice,
    ground truth = exact distinct-token Jaccard ≥ 0.8 pairs
    (cross-multiplied integers; INCLUSIVE because MLlib's float cut
    `1 - J < 0.2` admits the exact boundary — 1.0 - double(4/5) is one
    ULP under 0.2 — verified empirically at sf0.01), and the gate
    reports (a) the oracle-exact truth-pair count, (b) whether MLlib's
    candidate recall clears 0.95 (8 OR-ed hash tables ⇒ theoretical
    recall 1-(1-J)^8 ≥ 0.999997 at J = 0.8; measured 1.0 at all three
    SFs), and (c) that every emitted pair's MLlib keyDistance agrees
    with truth membership — provable, since approxSimilarityJoin
    verifies candidates with the EXACT Jaccard on the hashed sets and
    2^16 hash features are collision-free on this vocabulary. The
    hand-rolled portable-minhash twin is ``dedup_lsh_recall``
    (certified r04); this entry certifies the MLlib surface.

    Full-corpus self-join stays quarantined (threshold 0.5 produced
    8.6M pairs / 11 min at sf0.1); the linear-output production path
    is dedup_minhash_keep_first."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 16, binary=True)
    feat = tf.transform(d)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.2, distCol="jaccard_dist")
    cand = pairs.filter(
        F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
    ).select(
        F.col("datasetA.doc_id").alias("id_a"),
        F.col("datasetB.doc_id").alias("id_b"),
    )
    sets = d.select("doc_id", F.explode("toks").alias("tok")).distinct()
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sets.alias("a"), sets.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("id_a"),
                             F.col("sz").alias("sz_a"))
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("id_b"),
                             F.col("sz").alias("sz_b"))
            ),
            "id_b",
        )
        .where(
            # INCLUSIVE >= deliberately: approxSimilarityJoin's cut is
            # `distance < 0.2` on a FLOAT distance, and 1.0 - double(4/5)
            # = 0.19999999999999996 < 0.2, so exact-boundary pairs (true
            # J = 4/5) ARE emitted by MLlib — verified at sf0.01, where a
            # strict > truth flipped precision_exact to False. The r06
            # advice to use strict > assumed exact threshold arithmetic;
            # the IEEE representation makes the boundary inclusive.
            MLLIB_LSH_TAU_DEN * F.col("i")
            >= MLLIB_LSH_TAU_NUM * (F.col("sz_a") + F.col("sz_b") - F.col("i"))
        )
        .select("id_a", "id_b")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_truth",
            (
                F.col("n_hit")
                >= F.lit(MLLIB_LSH_RECALL_FLOOR) * F.col("n_truth")
            ).alias("recall_floor_ok"),
            (F.col("n_hit") == F.col("n_cand")).alias("precision_exact"),
        )
    )


SEMDEDUP_TAU = 0.25  # within-cluster cosine above this = semantic dup


@query(
    "sim_semdedup",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                                   * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                       a.cell_id) AS rn
            FROM c a CROSS JOIN embeddings b
        ),
        asg AS (SELECT vec_id, cell_id FROM d WHERE rn = 1),
        dropped AS (
            SELECT DISTINCT jb.vec_id
            FROM asg ja
            JOIN asg jb ON ja.cell_id = jb.cell_id AND ja.vec_id < jb.vec_id
            JOIN embeddings a ON a.vec_id = ja.vec_id
            JOIN embeddings b ON b.vec_id = jb.vec_id
            WHERE ROUND({_SQL_COSINE}, 6) >= {SEMDEDUP_TAU}
        )
        SELECT asg.vec_id, asg.cell_id,
               dropped.vec_id IS NULL AS kept
        FROM asg LEFT JOIN dropped ON asg.vec_id = dropped.vec_id
    """,
    tags=("similarity", "dedup", "curation", "embeddings"),
)
def sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (cluster -> within-cluster
    cosine -> keep-first): assign every vector to its nearest coarse
    centroid, then inside each cluster drop any vector whose cosine to a
    lower-id cluster-mate is >= SEMDEDUP_TAU. Returns one row per vector
    with its cluster and keep/drop decision — linear output.

    This is the embedding-space analogue of the MinHash keep-first rule
    (operators/dedup.py): the cluster plays the role of the LSH band, so
    the pairwise stage is quadratic only within a cluster, never across
    the corpus. At 100 TB the knobs are the centroid count (more cells
    -> smaller clusters -> cheaper pairwise) and probing: assignment is
    a broadcast map-only stage, the pair stage is one equi-join keyed by
    cell_id. Deterministic data-derived centroids (vec_id < IVF_CELLS)
    keep it fully oracle-checkable, unlike seeded KMeans."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    asg = (
        em.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell_id", d2.alias("d2"))
        .select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    emb = em.select("vec_id", "embedding")
    a = asg.alias("ja")
    b = asg.alias("jb")
    cs = F.round(
        cosine(to_double(F.col("ea.embedding")), to_double(F.col("eb.embedding"))), 6
    )
    dropped = (
        a.join(
            b,
            (F.col("ja.cell_id") == F.col("jb.cell_id"))
            & (F.col("ja.vec_id") < F.col("jb.vec_id")),
        )
        .join(emb.alias("ea"), F.col("ea.vec_id") == F.col("ja.vec_id"))
        .join(emb.alias("eb"), F.col("eb.vec_id") == F.col("jb.vec_id"))
        .filter(cs >= SEMDEDUP_TAU)
        .select(F.col("jb.vec_id").alias("dropped_id"))
        .distinct()
    )
    return asg.join(
        dropped, asg["vec_id"] == dropped["dropped_id"], "left"
    ).select("vec_id", "cell_id", F.col("dropped_id").isNull().alias("kept"))


PQ_M = 4          # subspaces
PQ_SUB = 16       # dims per subspace (64-dim embeddings)
PQ_K = 16         # codewords per subspace; codebook = subvectors of the
                  # first PQ_K corpus vectors (data-derived, deterministic)

_SQL_SUB_L2 = """
    list_sum(list_transform(list_zip({a}, {b}),
             p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
"""


@query(
    "sim_pq_adc_topk",
    oracle=f"""
        WITH cb AS (
            SELECT t.m, vec_id AS code,
                   embedding[t.m * {PQ_SUB} + 1 : t.m * {PQ_SUB} + {PQ_SUB}] AS sub
            FROM embeddings CROSS JOIN UNNEST(generate_series(0, {PQ_M - 1})) AS t(m)
            WHERE vec_id < {PQ_K}
        ),
        d AS (
            SELECT e.vec_id, cb.m, cb.code,
                   {_SQL_SUB_L2.format(
                       a=f"e.embedding[cb.m * {PQ_SUB} + 1 : cb.m * {PQ_SUB} + {PQ_SUB}]",
                       b="cb.sub")} AS d2
            FROM embeddings e CROSS JOIN cb
        ),
        codes AS (
            SELECT vec_id, m, code FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                             ORDER BY d2, code) AS rn FROM d
            ) WHERE rn = 1
        ),
        lut AS (SELECT vec_id AS query_id, m, code, d2 AS qd2
                FROM d WHERE vec_id < {N_QUERIES})
        SELECT query_id, neighbor_id, adc_d2
        FROM (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   ROUND(SUM(l.qd2), 6) AS adc_d2
            FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
            GROUP BY l.query_id, c.vec_id
        )
        WHERE query_id <> neighbor_id
        QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, neighbor_id) <= {TOP_K}
    """,
    tags=("similarity", "embeddings", "pq"),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the IVF-PQ compressed-corpus path): the
    64-dim corpus is encoded as {PQ_M} one-byte codes (16× compression
    here; 64× with 256 codewords over float32), and queries scan codes
    via an Asymmetric Distance Computation lookup table instead of raw
    vectors — at 100 TB the corpus IS the codes; raw embeddings are
    only ever read once at encode time.

    Spark shape (all built-ins, mirrors ``sim_ivf_topk``'s one-pass
    trick):
      1. codebook = subvectors of the first {PQ_K} vectors per subspace
         (data-derived → deterministic → fully oracle-checkable, unlike
         seeded-KMeans codebooks; swap in MLlib KMeans per subspace for
         production training);
      2. ONE broadcast crossJoin scores every (vector, subspace,
         codeword) sub-distance; rn=1 per (vector, subspace) is the
         encoder, the query slice of the same scores is the ADC lookup
         table — the expensive pass is shared;
      3. ADC = equi-join codes⋈LUT on (subspace, codeword) + one sum —
         a {PQ_M}-row-per-candidate aggregate, never a 64-dim product;
      4. per-query top-k window on the approximate distance.
    """
    em = load_table(spark, sf_dir, "embeddings")
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    cb = (
        em.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), "embedding", ms)
        .select(
            "m",
            "code",
            F.slice("embedding", F.col("m") * PQ_SUB + 1, PQ_SUB).alias("sub"),
        )
    )
    sub_of = lambda c: F.slice(c, F.col("m") * PQ_SUB + 1, PQ_SUB)  # noqa: E731
    d = (
        em.select("vec_id", "embedding", ms)
        .join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            "code",
            l2_dist_sq(to_double(sub_of(F.col("embedding"))), to_double(F.col("sub"))).alias("d2"),
        )
    )
    w_enc = Window.partitionBy("vec_id", "m").orderBy("d2", "code")
    codes = (
        d.select("*", F.row_number().over(w_enc).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "m", "code")
    )
    lut = d.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", "code", F.col("d2").alias("qd2")
    )
    scored = (
        codes.join(lut, ["m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("qd2"), 6).alias("adc_d2"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w_top = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w_top).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


EMB_DIM = 64
Q_LEVELS = 255  # int8-style affine quantization levels


@query(
    "sim_int8_quantization",
    oracle=f"""
        WITH x AS (
            SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) AS t(i)
        ),
        mm AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY dim),
        q AS (
            SELECT vec_id, v, mn, mx,
                   CASE WHEN mx > mn
                        THEN FLOOR((v - mn) / (mx - mn) * {Q_LEVELS} + 0.5)
                        ELSE 0 END AS code
            FROM x JOIN mm USING (dim)
        ),
        r AS (
            SELECT vec_id, v,
                   CASE WHEN mx > mn THEN mn + code * (mx - mn) / {Q_LEVELS}
                        ELSE mn END AS rec
            FROM q
        )
        SELECT vec_id,
               ROUND(SUM((v - rec) * (v - rec)) / {EMB_DIM}, 9) AS mse,
               ROUND(MAX(ABS(v - rec)), 9)                      AS max_abs_err
        FROM r GROUP BY vec_id
    """,
    tags=("similarity", "embeddings", "quantization"),
)
def sim_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization of the embedding corpus: per-dimension
    affine [min, max] → 0..255 codes (4× compression over float32; the
    store-the-codes sibling of the PQ path in ``sim_pq_adc_topk``), with
    per-vector reconstruction error as the quality gauge.

    Quantization uses FLOOR(x + 0.5), not ROUND: the operands are
    bit-identical doubles in any engine, so floor is deterministic,
    while decimal ROUND diverges between Spark's decimal-string
    HALF_UP and binary rounding exactly at code midpoints.

    Scale: the per-dimension min/max is a 64-row aggregate broadcast
    back onto the corpus; encode + reconstruct is then map-only over
    the posexploded values — one small shuffle for the stats, one
    doc-keyed aggregate for the error rollup."""
    em = load_table(spark, sf_dir, "embeddings")
    x = em.select(
        "vec_id",
        F.posexplode(to_double(F.col("embedding"))).alias("pos", "v"),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "v")
    mm = x.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    q = x.join(F.broadcast(mm), "dim").withColumn(
        "code",
        F.when(
            F.col("mx") > F.col("mn"),
            F.floor(
                (F.col("v") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * Q_LEVELS
                + 0.5
            ),
        ).otherwise(F.lit(0)),
    )
    r = q.withColumn(
        "rec",
        F.when(
            F.col("mx") > F.col("mn"),
            F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / Q_LEVELS,
        ).otherwise(F.col("mn")),
    )
    err = F.col("v") - F.col("rec")
    return r.groupBy("vec_id").agg(
        F.round(F.sum(err * err) / EMB_DIM, 9).alias("mse"),
        F.round(F.max(F.abs(err)), 9).alias("max_abs_err"),
    )


@query(
    "sim_blocked_gemm_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROUND({_SQL_COSINE}, 6) AS cos_sim
            FROM q a JOIN embeddings b ON a.vec_id <> b.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id) AS rn
              FROM scored)
        WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "embeddings", "pandas", "mapInPandas"),
)
def sim_blocked_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k as a BLOCKED MATRIX MULTIPLY inside a
    vectorized pandas UDF: the query matrix rides in as a broadcast
    numpy array, each Arrow batch of corpus vectors becomes one
    (batch × dim) · (dim × Q) GEMM, and only per-batch candidate rows
    leave Python. Same results as the expression-based
    ``sim_cosine_topk`` (identical oracle) — this is the kernel you
    swap in when the scoring math outgrows SQL expressions (learned
    metrics, fp16 blocks, GPU offload).

    Scale: corpus streams through mapInPandas (no shuffle), per-batch
    top-k caps the Python→JVM egress at batches × Q × k rows, and the
    final exact top-k window runs on that reduced candidate set."""
    import numpy as np
    import pandas as pd

    em = load_table(spark, sf_dir, "embeddings")
    qrows = (
        em.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # Q×dim — a bounded query panel, broadcast by closure
    q_ids = np.array([r["vec_id"] for r in qrows])
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    k = TOP_K

    def score_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            cm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cn @ qn.T  # (batch × Q) GEMM
            out = []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                # per-batch pre-top-k: keep the TRUE k+8 best — the
                # slack absorbs ties at the rounded 1e-6 boundary so
                # the global neighbor_id tie-break sees every
                # contender (kth=keep-1 makes positions [0, keep)
                # exactly the keep largest, unordered)
                keep = min(k + 8, len(cand_idx))
                if len(cand_idx) > keep:
                    part = cand_idx[
                        np.argpartition(-col[cand_idx], keep - 1)[:keep]
                    ]
                else:
                    part = cand_idx
                for i in part:
                    out.append((int(qid), int(ids[i]), float(col[i])))
            yield pd.DataFrame(
                out, columns=["query_id", "neighbor_id", "cos_sim"]
            )

    cands = em.select("vec_id", "embedding").mapInPandas(
        score_batches,
        "query_id long, neighbor_id long, cos_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim_r"), "neighbor_id"
    )
    return (
        cands.withColumn("cos_sim_r", F.round("cos_sim", 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "neighbor_id", F.col("cos_sim_r").alias("cos_sim")
        )
    )


@query(
    "ml_kmeans_lloyd_step_sql",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id, b.embedding,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
            FROM c a CROSS JOIN embeddings b
        ),
        asg AS (
            SELECT vec_id, cell_id, embedding
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, cell_id) AS rn FROM d)
            WHERE rn = 1
        ),
        comp AS (
            SELECT cell_id, dim, AVG(CAST(v AS DOUBLE)) AS m, COUNT(*) AS n
            FROM (SELECT cell_id, i AS dim, embedding[i] AS v
                  FROM asg, UNNEST(generate_series(1, {EMB_DIM})) AS t(i))
            GROUP BY cell_id, dim
        )
        SELECT cell_id,
               CAST(MAX(n) AS BIGINT)                    AS cluster_size,
               ROUND(SUM(m * m), 6)                      AS centroid_sq_norm,
               ROUND(list_sum(list_transform(
                   list(m ORDER BY dim), x -> ABS(x))), 6) AS centroid_l1
        FROM comp GROUP BY cell_id
    """,
    tags=("ml", "kmeans", "embeddings"),
)
def ml_kmeans_lloyd_step_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Lloyd iteration of k-means, fully relational (the SQL-oracled
    complement of the seeded MLlib fit in ``ml_kmeans_embeddings``):
    assign every vector to its nearest data-derived centroid, then
    recompute centroids as per-cell mean VECTORS by posexploding to
    (cell, dim) and averaging — array re-aggregation with zero Python,
    summarized per cell (size, squared norm, L1 mass) so the output
    stays bounded while pinning the full centroid values.

    Scale: assignment is broadcast-centroids map-only; the recompute is
    ONE (cell, dim) aggregate — k·dim rows out, map-side combined. An
    iterated k-means is this plan in the ``dedup_connected_components``
    localCheckpoint loop."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", "embedding", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    asg = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id", "embedding")
    )
    comp = (
        asg.select(
            "cell_id", F.posexplode(to_double(F.col("embedding"))).alias("pos", "v")
        )
        .select("cell_id", (F.col("pos") + 1).alias("dim"), "v")
        .groupBy("cell_id", "dim")
        .agg(F.avg("v").alias("m"), F.count("*").alias("n"))
    )
    return comp.groupBy("cell_id").agg(
        F.max("n").cast("bigint").alias("cluster_size"),
        F.round(F.sum(F.col("m") * F.col("m")), 6).alias("centroid_sq_norm"),
        F.round(F.sum(F.abs("m")), 6).alias("centroid_l1"),
    )


@query(
    "ml_hard_negative_mining",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding, label FROM embeddings
                   WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT a.vec_id AS query_id, a.label AS q_label,
                   b.vec_id AS cand_id, b.label AS c_label,
                   ROUND({_SQL_COSINE}, 6) AS cos_sim
            FROM q a JOIN embeddings b ON a.vec_id <> b.vec_id
        )
        SELECT query_id,
               MAX_BY(cand_id, CASE WHEN c_label = q_label THEN
                   CAST(FLOOR(cos_sim * 1000000 + 0.5) AS BIGINT)
                       * 4294967296 - cand_id END) AS hard_positive_id,
               MAX(CASE WHEN c_label = q_label THEN cos_sim END)
                   AS hard_positive_sim,
               MAX_BY(cand_id, CASE WHEN c_label <> q_label THEN
                   CAST(FLOOR(cos_sim * 1000000 + 0.5) AS BIGINT)
                       * 4294967296 - cand_id END) AS hard_negative_id,
               MAX(CASE WHEN c_label <> q_label THEN cos_sim END)
                   AS hard_negative_sim
        FROM scored
        GROUP BY query_id
    """,
    tags=("similarity", "embeddings", "contrastive", "mining"),
)
def ml_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for metric learning: per query, the most
    similar SAME-label candidate (hard positive) and the most similar
    DIFFERENT-label candidate (hard negative — the pair that teaches
    the model the most). One conditional arg-max aggregation over the
    scored candidates; ties broken deterministically by encoding
    (sim desc, id asc) into one bigint max_by key — DuckDB's
    arg-extrema cannot order by struct, the integer key is portable.

    Scale: queries broadcast, candidates streamed (same shape as
    ``sim_cosine_topk``); swap the exact scoring for the IVF/LSH
    candidate join to mine at corpus scale."""
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        em.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("c_label"),
            F.round(
                cosine(to_double(F.col("q_emb")), to_double(F.col("embedding"))), 6
            ).alias("cos_sim"),
        )
    )
    same = F.col("c_label") == F.col("q_label")
    # (sim desc, id asc) encoded in ONE bigint so max_by is portable
    # (DuckDB's arg-extrema cannot order by struct): micro-scaled sim
    # times 2^32 minus the id
    enc = (
        F.floor(F.col("cos_sim") * 1_000_000 + 0.5).cast("bigint")
        * F.lit(4294967296).cast("bigint")
        - F.col("cand_id")
    )
    ord_pos = F.when(same, enc)
    ord_neg = F.when(~same, enc)
    return scored.groupBy("query_id").agg(
        F.max_by("cand_id", ord_pos).alias("hard_positive_id"),
        F.max(F.when(same, F.col("cos_sim"))).alias("hard_positive_sim"),
        F.max_by("cand_id", ord_neg).alias("hard_negative_id"),
        F.max(F.when(~same, F.col("cos_sim"))).alias("hard_negative_sim"),
    )


@query(
    "sim_ivf_recall_at_k",
    oracle=f"""
        WITH exact AS ({_EXACT_TOPK_ORACLE}),
        approx AS ({_IVF_TOPK_ORACLE})
        SELECT e.query_id,
               COUNT(*)                 AS n_exact,
               COUNT(a.neighbor_id)     AS n_hit,
               ROUND(CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*), 6)
                                        AS recall_at_k
        FROM exact e
        LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
    tags=("similarity", "embeddings", "ivf", "recall", "evaluation"),
)
def sim_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@k of the IVF probe search against the
    exact brute-force ranking on the same embeddings. Both rankings are
    deterministic (shared (cos_sim DESC, neighbor_id) tiebreak), so the
    recall fraction itself is exactly SQL-oracle-checkable — the quality
    harness the 100 TB ANN story needs (sample Q exact-scored queries,
    measure recall, tune nprobe/cells from measurements, not guesses).
    A pytest (tests/test_similarity_pq.py) pins a recall floor."""
    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        sim_ivf_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_hit"),
            F.round(F.count("hit") / F.count(F.lit(1)), 6).alias("recall_at_k"),
        )
    )


_MRL_DIM = 16  # Matryoshka prefix length evaluated against the full 64

_SQL_COSINE_PREFIX = f"""
    list_sum(list_transform(list_zip(list_slice(a.embedding, 1, {_MRL_DIM}),
                                     list_slice(b.embedding, 1, {_MRL_DIM})),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (SQRT(list_sum(list_transform(list_slice(a.embedding, 1, {_MRL_DIM}),
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * SQRT(list_sum(list_transform(list_slice(b.embedding, 1, {_MRL_DIM}),
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


@query(
    "sim_matryoshka_prefix_eval",
    oracle=f"""
        WITH exact AS ({_EXACT_TOPK_ORACLE}),
        q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
        pscored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROUND({_SQL_COSINE_PREFIX}, 6) AS cos_sim
            FROM q a JOIN embeddings b ON a.vec_id <> b.vec_id
        ),
        prefix AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
                  FROM pscored)
            WHERE rn <= {TOP_K}
        )
        SELECT e.query_id,
               COUNT(*)             AS n_exact,
               COUNT(p.neighbor_id) AS n_hit,
               ROUND(CAST(COUNT(p.neighbor_id) AS DOUBLE) / COUNT(*), 6)
                                    AS recall_at_k
        FROM exact e
        LEFT JOIN prefix p
          ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
    tags=("similarity", "embeddings", "recall", "evaluation", "quantization"),
)
def sim_matryoshka_prefix_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/prefix-embedding evaluation: recall@k of a 16-dim
    PREFIX ranking against the full 64-dim exact ranking — the
    measurement behind coarse-to-fine retrieval (scan cheap prefixes,
    re-rank survivors with full vectors), which cuts ANN scan cost 4x
    when prefix recall holds. Same deterministic tiebreak as the exact
    ranking, so the recall fraction is exactly oracle-checkable
    (sibling of sim_ivf_recall_at_k).

    100 TB design: both rankings are broadcast-queries + streamed
    candidates; the prefix leg reads 4x fewer vector bytes (with
    column-sliced storage, 4x less IO), and the join/aggregate runs on
    two k-row-per-query frames.
    """
    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.slice("embedding", 1, _MRL_DIM).alias("q_emb"),
    )
    cand = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.slice("embedding", 1, _MRL_DIM).alias("c_emb"),
    )
    pscored = cand.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine(to_double(F.col("q_emb")), to_double(F.col("c_emb"))), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    prefix = (
        pscored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(prefix, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_hit"),
            F.round(F.count("hit") / F.count(F.lit(1)), 6).alias("recall_at_k"),
        )
    )


_KNN_K = 5
_KNN_QUERIES = 50  # classify the first 50 vectors against the rest


@query(
    "ml_knn_classifier_eval",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding, label FROM embeddings
                   WHERE vec_id < {_KNN_QUERIES}),
        scored AS (
            SELECT a.vec_id AS query_id, a.label AS true_label,
                   b.label AS cand_label,
                   ROUND({_SQL_COSINE}, 6) AS cos_sim, b.vec_id AS cand_id
            FROM q a JOIN embeddings b ON b.vec_id >= {_KNN_QUERIES}
        ),
        nn AS (
            SELECT query_id, true_label, cand_label
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rn
                  FROM scored)
            WHERE rn <= {_KNN_K}
        ),
        votes AS (
            SELECT query_id, true_label, cand_label, COUNT(*) AS v
            FROM nn GROUP BY query_id, true_label, cand_label
        ),
        pred AS (
            SELECT query_id, true_label,
                   MIN(cand_label) AS pred_label
            FROM (SELECT *, MAX(v) OVER (PARTITION BY query_id) AS vmax
                  FROM votes)
            WHERE v = vmax
            GROUP BY query_id, true_label
        )
        SELECT COUNT(*) AS n_queries,
               CAST(SUM(CASE WHEN pred_label = true_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               ROUND(SUM(CASE WHEN pred_label = true_label
                              THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
                   AS accuracy
        FROM pred
    """,
    tags=("ml", "knn", "similarity", "embeddings", "evaluation"),
)
def ml_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification, fully relational: each held
    query votes over its 5 nearest corpus neighbors by cosine; ties
    resolve to the smallest label (deterministic in both engines).
    Reports holdout accuracy — a trainless baseline every embedding
    pipeline should clear before fitting anything.

    100 TB design: the same broadcast-queries + streamed-candidates
    scoring shape as sim_cosine_topk; voting and argmax are two tiny
    aggregations over k rows per query. At corpus scale the scoring
    leg swaps to the IVF/prefix candidate join (sim_ivf_topk,
    sim_matryoshka_prefix_eval) with identical vote semantics.
    """
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    cand = em.filter(F.col("vec_id") >= _KNN_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        "embedding",
        F.col("label").alias("cand_label"),
    )
    scored = cand.join(F.broadcast(q)).select(
        "query_id",
        "true_label",
        "cand_label",
        "cand_id",
        F.round(
            cosine(to_double(F.col("q_emb")), to_double(F.col("embedding"))), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    nn = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _KNN_K)
        .select("query_id", "true_label", "cand_label")
    )
    votes = nn.groupBy("query_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    wv = Window.partitionBy("query_id")
    pred = (
        votes.select("*", F.max("v").over(wv).alias("vmax"))
        .where(F.col("v") == F.col("vmax"))
        .groupBy("query_id", "true_label")
        .agg(F.min("cand_label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.agg(
        F.count(F.lit(1)).alias("n_queries"),
        correct.cast("bigint").alias("n_correct"),
        F.round(correct * 1.0 / F.count(F.lit(1)), 4).alias("accuracy"),
    )


# --- Farthest-point (k-center greedy) seed selection --------------------

KCENTER_K = 6

_SQL_L2SQ_SEED = """
    list_sum(list_transform(list_zip(e.embedding, {seed}.embedding),
             p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                  * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
"""


def _kcenter_oracle_sql() -> str:
    """KCENTER_K greedy farthest-point rounds unrolled as chained CTEs
    (the pagerank-oracle idiom: SQL has no loop, a fixed iteration
    count is just composition)."""
    ctes = [
        "s0 AS (SELECT vec_id, embedding, label FROM embeddings "
        "ORDER BY vec_id LIMIT 1)",
        f"""d1 AS (
            SELECT e.vec_id, e.embedding, e.label,
                   ROUND({_SQL_L2SQ_SEED.format(seed="s")}, 6) AS mind
            FROM embeddings e CROSS JOIN s0 s
        )""",
    ]
    for i in range(1, KCENTER_K):
        ctes.append(
            f"""s{i} AS (
            SELECT vec_id, embedding, label, mind FROM d{i}
            ORDER BY mind DESC, vec_id LIMIT 1
        )"""
        )
        if i < KCENTER_K - 1:
            ctes.append(
                f"""d{i + 1} AS (
            SELECT e.vec_id, e.embedding, e.label,
                   LEAST(e.mind,
                         ROUND({_SQL_L2SQ_SEED.format(seed="s")}, 6)) AS mind
            FROM d{i} e CROSS JOIN s{i} s
        )"""
            )
    selects = ["SELECT 0 AS seed_no, vec_id, label, 0.0 AS sep FROM s0"]
    for i in range(1, KCENTER_K):
        selects.append(
            f"SELECT {i} AS seed_no, vec_id, label, mind AS sep FROM s{i}"
        )
    body = "\n            UNION ALL\n            ".join(selects)
    cte_block = ",\n        ".join(ctes)
    return f"""WITH {cte_block}
        SELECT CAST(seed_no AS BIGINT) AS seed_no, vec_id,
               CAST(label AS BIGINT) AS label,
               ROUND(sep, 6) AS sep
        FROM ({body}) ORDER BY seed_no
    """


@query(
    "sim_kcenter_seeds",
    oracle=_kcenter_oracle_sql(),
    tags=("similarity", "embeddings", "clustering", "seeding"),
)
def sim_kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-point (greedy k-center / Gonzalez) seed selection over
    the embeddings: start from the lowest vec_id, then repeatedly take
    the vector farthest (squared L2, 6-dp rounded, vec_id tiebreak)
    from the current seed set. The deterministic cousin of k-means++ /
    k-means|| initialization — the 2-approximation to the k-center
    objective — and the standard way to pick diverse exemplars or IVF
    coarse centroids without randomness.

    Distributed shape per round: the newly chosen seed is a DRIVER-
    SIDE literal (one collected row per round, k bounded by contract —
    the same sanctioned-collect pattern as the CNN train set), so each
    round is ONE map-side scan computing dist-to-new-seed fused with
    LEAST(previous mind) and a TakeOrderedAndProject argmax — no
    cross-join of the corpus against the seed set, no shuffle beyond
    the top-1 reduction; k rounds = k linear scans. The oracle unrolls
    the same greedy recursion as chained CTEs (the pagerank-oracle
    idiom). `sep` records each seed's distance to the set when chosen
    — a monotone non-increasing sequence (asserted in tests), which is
    the k-center coverage-radius curve.
    """
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("emb"), "label"
    )
    first = em.orderBy("vec_id").limit(1).collect()[0]
    seeds = [(0, first.vec_id, first.label, 0.0)]
    seed_emb = list(first.emb)

    # Each round MATERIALIZES the running min-distance column (r10):
    # without the checkpoint, round i's lazy plan re-derives mind from
    # scratch — i distance expressions re-evaluated from the parquet
    # scan, O(k^2 * n * d) total work and a quadratically growing plan
    # to re-analyze per round. Checkpointed, each round is ONE pass
    # computing the distance to the new seed fused with least(mind) —
    # the O(k * n * d) the docstring promises. Values are identical:
    # the checkpoint only materializes the same per-round rounded mind.
    cur = em.select(
        "vec_id",
        "emb",
        "label",
        F.round(
            l2_dist_sq(
                F.col("emb"), F.array(*[F.lit(v) for v in seed_emb])
            ),
            6,
        ).alias("mind"),
    ).localCheckpoint(eager=True)
    for i in range(1, KCENTER_K):
        far = (
            cur.orderBy(F.col("mind").desc(), "vec_id").limit(1).collect()[0]
        )
        seeds.append((i, far.vec_id, far.label, float(far.mind)))
        if i < KCENTER_K - 1:
            lit = F.array(*[F.lit(v) for v in far.emb])
            cur = cur.select(
                "vec_id",
                "emb",
                "label",
                F.least(
                    F.col("mind"),
                    F.round(l2_dist_sq(F.col("emb"), lit), 6),
                ).alias("mind"),
            ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        seeds, "seed_no long, vec_id long, label long, sep double"
    ).select(
        "seed_no",
        "vec_id",
        "label",
        F.round("sep", 6).alias("sep"),
    ).orderBy("seed_no")


# --- round-5 carrier: nprobe/recall trade-off sweep (first-time 'ivf'
# entry for the r05 driver window) -----------------------------------

SWEEP_PROBES = (1, 2, 4)


def _ivf_sweep_oracle() -> str:
    """Per-nprobe recall@k vs the exact ranking, one CTE chain per
    probe count (the qc/cand bodies mirror _IVF_TOPK_ORACLE)."""
    chains, selects = [f"exact AS MATERIALIZED ({_EXACT_TOPK_ORACLE})"], []
    chains.append(f"""cand AS MATERIALIZED (
            SELECT vec_id, cell_id FROM (
                SELECT b.vec_id, a.vec_id AS cell_id,
                       ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                                       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                           a.vec_id) AS rn
                FROM (SELECT * FROM embeddings WHERE vec_id < {IVF_CELLS}) a
                CROSS JOIN embeddings b
            ) WHERE rn = 1)""")
    chains.append(f"""qcells AS MATERIALIZED (
            SELECT query_id, cell_id, rn FROM (
                SELECT b.vec_id AS query_id, a.vec_id AS cell_id,
                       ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                                       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                           a.vec_id) AS rn
                FROM (SELECT * FROM embeddings WHERE vec_id < {IVF_CELLS}) a
                CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) b
            ) WHERE rn <= {max(SWEEP_PROBES)})""")
    for np_ in SWEEP_PROBES:
        chains.append(f"""approx{np_} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT s.query_id, s.neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY s.query_id
                           ORDER BY s.cos_sim DESC, s.neighbor_id) AS rn
                FROM (SELECT DISTINCT qc.query_id, cand.vec_id AS neighbor_id,
                             ROUND({_SQL_COSINE}, 6) AS cos_sim
                      FROM qcells qc
                      JOIN cand ON cand.cell_id = qc.cell_id
                      JOIN embeddings a ON a.vec_id = qc.query_id
                      JOIN embeddings b ON b.vec_id = cand.vec_id
                      WHERE qc.rn <= {np_} AND cand.vec_id <> qc.query_id) s
            ) WHERE rn <= {TOP_K})""")
        selects.append(f"""
            SELECT {np_} AS nprobe, e.query_id,
                   COUNT(*) AS n_exact, COUNT(a.neighbor_id) AS n_hit,
                   ROUND(CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*), 6)
                       AS recall_at_k
            FROM exact e LEFT JOIN approx{np_} a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
            GROUP BY e.query_id""")
    return "WITH " + ",\n".join(chains) + "\nUNION ALL".join(selects)


@query(
    "sim_ivf_nprobe_sweep",
    oracle=_ivf_sweep_oracle(),
    tags=("similarity", "embeddings", "ivf", "recall", "evaluation"),
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe↔recall trade-off curve — recall@k of the IVF search
    at nprobe ∈ {1, 2, 4}, against the exact ranking. This is the
    measurement that TUNES an ANN deployment: at 100 TB you pick the
    smallest nprobe whose recall clears the product floor, because scan
    cost is linear in nprobe. Cell assignment and probe ranking are
    computed ONCE (one crossJoin vs the 8 broadcast centroids, one
    window) and shared by all sweep points; each nprobe then restricts
    the probe list and re-ranks — no recomputation of assignments.
    Sibling of sim_ivf_recall_at_k (single-point gate)."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    cells = (
        em.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell_id", d2.alias("d2"))
        .select("*", F.row_number().over(w).alias("rn"))
        .localCheckpoint(eager=True)
    )
    cand = cells.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell_id"
    )
    emb_q = em.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    emb_c = em.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    outs = []
    for np_ in SWEEP_PROBES:
        q_cells = cells.filter(
            (F.col("rn") <= np_) & (F.col("vec_id") < N_QUERIES)
        ).select(F.col("vec_id").alias("query_id"), "cell_id")
        scored = (
            q_cells.join(cand, "cell_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
            .join(F.broadcast(emb_q), "query_id")
            .join(emb_c, "neighbor_id")
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine(to_double(F.col("q_emb")), to_double(F.col("embedding"))), 6
                ).alias("cos_sim"),
            )
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        approx = (
            scored.select("*", F.row_number().over(wk).alias("rn"))
            .filter(F.col("rn") <= TOP_K)
            .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        )
        outs.append(
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("hit").alias("n_hit"),
                F.round(F.count("hit") / F.count(F.lit(1)), 6).alias("recall_at_k"),
            )
            .select(F.lit(np_).alias("nprobe"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --- round-5: PQ codebook TRAINING (deterministic per-subspace Lloyd) --

PQCB_M = 4        # subspaces (16 dims each over the 64-dim embeddings)
PQCB_SUBDIM = 16
PQCB_K = 4        # codewords per subspace; seeds = vec_id < PQCB_K
PQCB_ROUNDS = 2   # Lloyd update rounds before the final assignment


def _pq_sql_dist(sub: str, cent: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({sub}, {cent}), "
        f"p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
    )


def _pq_codebook_oracle() -> str:
    avgs = ", ".join(
        f"ROUND(AVG(CAST(sub[{i}] AS DOUBLE)), 6)" for i in range(1, PQCB_SUBDIM + 1)
    )
    parts = [
        f"""subs AS MATERIALIZED (
            SELECT vec_id, s.s AS subspace,
                   embedding[s.s * {PQCB_SUBDIM} + 1 : (s.s + 1) * {PQCB_SUBDIM}] AS sub
            FROM embeddings, (SELECT UNNEST(range(0, {PQCB_M})) AS s) s)""",
        f"""cents0 AS MATERIALIZED (
            SELECT subspace, vec_id AS cell,
                   list_transform(sub, x -> ROUND(CAST(x AS DOUBLE), 6)) AS c
            FROM subs WHERE vec_id < {PQCB_K})""",
    ]
    for r in range(1, PQCB_ROUNDS + 1):
        parts.append(f"""assign{r} AS MATERIALIZED (
            SELECT vec_id, subspace, sub, cell FROM (
                SELECT m.vec_id, m.subspace, m.sub, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY m.vec_id, m.subspace
                           ORDER BY {_pq_sql_dist("m.sub", "c.c")}, c.cell) AS rn
                FROM subs m JOIN cents{r - 1} c ON c.subspace = m.subspace)
            WHERE rn = 1)""")
        parts.append(f"""cents{r} AS MATERIALIZED (
            SELECT subspace, cell, [{avgs}] AS c
            FROM assign{r} GROUP BY subspace, cell)""")
    parts.append(f"""final AS (
            SELECT vec_id, subspace, cell, d2 FROM (
                SELECT m.vec_id, m.subspace, c.cell,
                       {_pq_sql_dist("m.sub", "c.c")} AS d2,
                       ROW_NUMBER() OVER (PARTITION BY m.vec_id, m.subspace
                           ORDER BY {_pq_sql_dist("m.sub", "c.c")}, c.cell) AS rn
                FROM subs m JOIN cents{PQCB_ROUNDS} c ON c.subspace = m.subspace)
            WHERE rn = 1)""")
    return (
        "WITH " + ",\n".join(parts) + """
        SELECT subspace, cell AS codeword,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(SQRT(d2)), 6) AS avg_dist,
               ROUND(SUM(d2), 4) AS sq_error
        FROM final GROUP BY subspace, cell"""
    )


@query(
    "sim_pq_codebook_lloyd",
    oracle=_pq_codebook_oracle(),
    tags=("similarity", "embeddings", "quantization", "clustering", "iterative"),
)
def sim_pq_codebook_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook TRAINING — the step the IVF-PQ
    search path (``sim_pq_adc_topk``) consumes: per 16-dim subspace,
    k=4 codewords trained by the deterministic-Lloyd recipe
    (data-derived seeds, 2 rounds, per-round ROUND(centroid, 6), the
    ``ml_kmeans_embeddings`` trajectory-pinning idiom) — so the whole
    training loop is cross-engine reproducible and oracle-checked.
    All M subspaces train IN ONE PLAN: the vectors explode to
    (vec, subspace, sub-vector) rows once and every Lloyd round is a
    single broadcast-join + keyed aggregate over that frame — M never
    multiplies the number of Spark jobs. Output: per-(subspace,
    codeword) population, mean distance, and squared quantization
    error — the codebook-quality dashboard that tells you whether k
    and M fit the data distribution before you commit 100 TB to codes.
    """
    em = load_table(spark, sf_dir, "embeddings")
    subspaces = spark.range(PQCB_M).withColumnRenamed("id", "subspace")
    subs = (
        em.crossJoin(F.broadcast(subspaces))
        .select(
            "vec_id",
            "subspace",
            F.expr(
                f"slice(embedding, CAST(subspace * {PQCB_SUBDIM} + 1 AS INT), {PQCB_SUBDIM})"
            ).alias("sub"),
        )
        .localCheckpoint(eager=True)
    )
    cents = subs.filter(F.col("vec_id") < PQCB_K).select(
        "subspace",
        F.col("vec_id").alias("cell"),
        F.transform("sub", lambda x: F.round(x.cast("double"), 6)).alias("c"),
    )
    d2 = F.aggregate(
        F.zip_with(
            "sub", "c", lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy("d2", "cell")

    def assign(cents_df: DataFrame) -> DataFrame:
        return (
            subs.join(F.broadcast(cents_df), "subspace")
            .select("vec_id", "subspace", "sub", "cell", d2.alias("d2"))
            .select("*", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
        )

    for _ in range(PQCB_ROUNDS):
        cents = (
            assign(cents)
            .groupBy("subspace", "cell")
            .agg(
                F.array(
                    *[
                        F.round(F.avg(F.element_at("sub", i).cast("double")), 6)
                        for i in range(1, PQCB_SUBDIM + 1)
                    ]
                ).alias("c")
            )
            .localCheckpoint(eager=True)
        )
    return (
        assign(cents)
        .groupBy("subspace", F.col("cell").alias("codeword"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg(F.sqrt("d2")), 6).alias("avg_dist"),
            F.round(F.sum("d2"), 4).alias("sq_error"),
        )
    )


# --- round-6 carrier: first-time 'ivf' entry ---------------------------


@query(
    "sim_ivf_cell_balance",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
            FROM c a CROSS JOIN embeddings b
        ),
        assign AS (
            SELECT vec_id, cell_id, d2
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, cell_id) AS rn FROM d)
            WHERE rn = 1
        ),
        tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM embeddings)
        SELECT cell_id,
               CAST(COUNT(*) AS BIGINT)                       AS n_vectors,
               ROUND(AVG(SQRT(d2)), 6)                        AS avg_dist,
               ROUND(MAX(SQRT(d2)), 6)                        AS max_dist,
               ROUND(COUNT(*) * {IVF_CELLS} / MAX(tot.n_total), 6)
                                                              AS balance_ratio
        FROM assign, tot
        GROUP BY cell_id
    """,
    tags=("similarity", "ivf", "report", "embeddings"),
)
def sim_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF CELL-BALANCE report: per-cell population, mean/max residual
    distance, and the balance ratio (cell size ÷ ideal uniform size) —
    the index-health view that decides whether a coarse codebook needs
    retraining (ratio ≫ 1 cells dominate probe latency; the ANN quality
    side lives in ``sim_ivf_recall_at_k``). Same broadcast-centroid
    map-only assignment as ``sim_ivf_assign``; the report is one
    O(cells)-row aggregate, so it costs one linear scan at any SF."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    assign = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id", "d2")
    )
    tot = em.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    return (
        assign.join(F.broadcast(tot))
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(F.avg(F.sqrt("d2")), 6).alias("avg_dist"),
            F.round(F.max(F.sqrt("d2")), 6).alias("max_dist"),
            F.round(
                F.count(F.lit(1)) * IVF_CELLS / F.max("n_total"), 6
            ).alias("balance_ratio"),
        )
    )


# --- round-7 spare carrier: ivf probe schedule --------------------------

PROBE_QUERY_MOD = 40   # probe-schedule sample: vec_id % 40 == 0
PROBE_SCHED_K = 3      # first k cells of each query's probe order


@query(
    "sim_ivf_probe_schedule",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        q AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id % {PROBE_QUERY_MOD} = 0),
        d AS (
            SELECT q.vec_id, c.cell_id,
                   list_sum(list_transform(list_zip(c.embedding, q.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
            FROM c CROSS JOIN q
        )
        SELECT vec_id AS query_id, cell_id,
               CAST(rn AS BIGINT)  AS probe_rank,
               ROUND(SQRT(d2), 6)  AS cent_dist
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY d2, cell_id) AS rn FROM d)
        WHERE rn <= {PROBE_SCHED_K}
    """,
    tags=("similarity", "ivf", "embeddings"),
)
def sim_ivf_probe_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF PROBE SCHEDULE: for each sampled query, the first
    3 cells in centroid-distance order — the exact list an
    nprobe-limited search visits, materialized as a plan (recall
    consequences of the schedule: ``sim_ivf_nprobe_sweep``, certified
    r05). Broadcast centroids, map-only scoring, per-query rank — the
    schedule never touches cell CONTENTS, which is why computing it is
    cheap at any corpus size."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    q = em.filter(F.col("vec_id") % PROBE_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "cell_id", d2.alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cell_id")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= PROBE_SCHED_K)
        .select(
            "query_id",
            "cell_id",
            F.col("rn").cast("bigint").alias("probe_rank"),
            F.round(F.sqrt("d2"), 6).alias("cent_dist"),
        )
    )


# --- round-8 spare: one Lloyd refinement step of the IVF coarse book ----


@query(
    "sim_ivf_centroid_update",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id, b.embedding,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                                   * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
                       a.cell_id) AS rn
            FROM c a CROSS JOIN embeddings b
        ),
        asg AS (SELECT vec_id, cell_id, embedding FROM d WHERE rn = 1),
        dim AS (
            SELECT asg.cell_id,
                   CAST(generate_subscripts(asg.embedding, 1) AS BIGINT) AS j,
                   CAST(UNNEST(asg.embedding) AS DOUBLE) AS v
            FROM asg
        ),
        newc AS (
            SELECT cell_id, j, AVG(v) AS nv FROM dim GROUP BY cell_id, j
        ),
        oldc AS (
            SELECT c.cell_id,
                   CAST(generate_subscripts(c.embedding, 1) AS BIGINT) AS j,
                   CAST(UNNEST(c.embedding) AS DOUBLE) AS ov
            FROM c
        ),
        moved AS (
            SELECT n.cell_id,
                   SQRT(SUM((n.nv - o.ov) * (n.nv - o.ov))) AS movement
            FROM newc n JOIN oldc o ON o.cell_id = n.cell_id AND o.j = n.j
            GROUP BY n.cell_id
        ),
        sizes AS (SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_members
                  FROM asg GROUP BY cell_id)
        SELECT s.cell_id, s.n_members,
               ROUND(m.movement, 6) AS movement
        FROM sizes s JOIN moved m ON m.cell_id = s.cell_id
    """,
    tags=("similarity", "ivf", "embeddings"),
)
def sim_ivf_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd REFINEMENT step of the IVF coarse codebook: assign
    every vector to its nearest seed centroid, recompute each cell's
    mean, and report how far each centroid MOVED — the index-retraining
    probe that says whether the coarse book has drifted from the
    corpus (health report: ``sim_ivf_cell_balance``; the full
    multi-round training story is ``sim_pq_codebook_lloyd``).
    Broadcast centroids, map-only scoring, then ONE posexplode +
    (cell, dim) mean — the M-step is a map-side-combined aggregation,
    the movement report is O(cells) rows."""
    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    asg = (
        em.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell_id", "embedding", d2.alias("d2"))
        .select("vec_id", "cell_id", "embedding",
                F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    dim = asg.select(
        "cell_id", F.posexplode(to_double(F.col("embedding")))
    ).select(
        "cell_id",
        (F.col("pos") + 1).cast("bigint").alias("j"),
        F.col("col").alias("v"),
    )
    newc = dim.groupBy("cell_id", "j").agg(F.avg("v").alias("nv"))
    oldc = cents.select(
        "cell_id", F.posexplode(to_double(F.col("c_emb")))
    ).select(
        "cell_id",
        (F.col("pos") + 1).cast("bigint").alias("j"),
        F.col("col").alias("ov"),
    )
    moved = (
        newc.join(F.broadcast(oldc), ["cell_id", "j"])
        .groupBy("cell_id")
        .agg(
            F.sqrt(
                F.sum((F.col("nv") - F.col("ov")) * (F.col("nv") - F.col("ov")))
            ).alias("movement")
        )
    )
    sizes = asg.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return sizes.join(moved, "cell_id").select(
        "cell_id", "n_members", F.round("movement", 6).alias("movement")
    )


# ---------------------------------------------------------------------------
# ivf: second-choice margin per cell (quantization confidence)
# ---------------------------------------------------------------------------

_IVF_CELLS = IVF_CELLS  # the name the margin query's source uses


@query(
    "sim_ivf_second_choice_margin",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {_IVF_CELLS}),
        d AS (
            SELECT e.vec_id, c.cell_id,
                   list_sum(list_transform(list_zip(c.embedding, e.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                       AS d2
            FROM embeddings e CROSS JOIN c
        ),
        r AS (
            SELECT vec_id, cell_id, SQRT(d2) AS dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell_id) AS rn
            FROM d
        ),
        m AS (
            SELECT vec_id,
                   MAX(CASE WHEN rn = 1 THEN cell_id END) AS cell_id,
                   MAX(CASE WHEN rn = 2 THEN dist END)
                       - MAX(CASE WHEN rn = 1 THEN dist END) AS margin
            FROM r WHERE rn <= 2 GROUP BY vec_id
        ),
        cells AS (
            SELECT cell_id,
                   CAST(COUNT(*) AS BIGINT)       AS n_vectors,
                   list(margin ORDER BY vec_id)   AS ms,
                   MIN(margin)                    AS min_margin,
                   CAST(SUM(CASE WHEN margin < 0.5 THEN 1 ELSE 0 END)
                        AS BIGINT)                AS n_ambiguous
            FROM m GROUP BY cell_id
        )
        SELECT cell_id, n_vectors,
               ROUND(list_sum(ms) / n_vectors, 6) AS mean_margin,
               ROUND(min_margin, 6)               AS min_margin,
               n_ambiguous
        FROM cells
    """,
    tags=("similarity", "ivf", "embeddings"),
)
def sim_ivf_second_choice_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF SECOND-CHOICE MARGIN per cell: the gap d₂−d₁ between each
    vector's nearest and second-nearest coarse centroid — the
    quantization-confidence statistic that directly predicts how much
    recall nprobe=1 loses (vectors with small margins are the ones a
    single-probe search misassigns; cell sizes alone —
    ``sim_ivf_cell_balance`` — can't see this). Broadcast the
    centroids, map-only distance scoring, one rank window per vector,
    then an O(cells)-row aggregate; per-vector margins are
    deterministic row-local floats and the per-cell MEAN runs as a
    vec_id-ordered SEQUENTIAL in-row fold (an engine-side AVG across
    rows is summation-order-dependent — the audio_energy_flatness
    lesson applied before certification this time); min and the
    threshold count are order-free. The margin threshold (0.5) counts
    the ambiguous population per cell. At 100 TB cap the per-cell
    margin array or histogram the margins instead."""
    from big_data_audio_classification_spark.functions.vector import (
        l2_dist_sq,
        to_double,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", d2.alias("d2s")
    )
    w = Window.partitionBy("vec_id").orderBy("d2s", "cell_id")
    r = scored.select(
        "vec_id", "cell_id", F.sqrt("d2s").alias("dist"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 2)
    m = r.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cell_id"))).alias("cell_id"),
        (
            F.max(F.when(F.col("rn") == 2, F.col("dist")))
            - F.max(F.when(F.col("rn") == 1, F.col("dist")))
        ).alias("margin"),
    )
    cells = m.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("vec_id", "margin"))),
            lambda s: s.getField("margin"),
        ).alias("ms"),
        F.min("margin").alias("min_margin"),
        F.sum(F.when(F.col("margin") < 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ambiguous"),
    )
    mean_margin = (
        F.aggregate(F.col("ms"), F.lit(0.0), lambda acc, p: acc + p)
        / F.col("n_vectors")
    )
    return cells.select(
        "cell_id",
        "n_vectors",
        F.round(mean_margin, 6).alias("mean_margin"),
        F.round("min_margin", 6).alias("min_margin"),
        "n_ambiguous",
    )


# ---------------------------------------------------------------------------
# ivf: nprobe cost model from the probe schedule x cell sizes
# ---------------------------------------------------------------------------

IVF_COST_QUERY_MOD = 40


def _ivf_cost_sql() -> str:
    from big_data_audio_classification_spark.operators.similarity import IVF_CELLS

    return f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT e.vec_id, c.cell_id,
                   list_sum(list_transform(list_zip(c.embedding, e.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                       AS d2
            FROM embeddings e CROSS JOIN c
        ),
        assign AS (
            SELECT vec_id, cell_id FROM (
                SELECT vec_id, cell_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cell_id) AS rn
                FROM d) WHERE rn = 1
        ),
        sizes AS (SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS sz
                  FROM assign GROUP BY cell_id),
        sched AS (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell_id) AS probe_rank
            FROM d WHERE vec_id % {IVF_COST_QUERY_MOD} = 0
        )
        SELECT CAST(p.nprobe AS BIGINT) AS nprobe,
               CAST(COUNT(DISTINCT s.vec_id) AS BIGINT)  AS n_queries,
               CAST(SUM(z.sz) AS BIGINT)                 AS total_scanned,
               CAST(SUM(z.sz) // COUNT(DISTINCT s.vec_id) AS BIGINT)
                                                         AS avg_scanned
        FROM sched s
        JOIN sizes z ON z.cell_id = s.cell_id,
             (SELECT UNNEST(range(1, 5)) AS nprobe) p
        WHERE s.probe_rank <= p.nprobe
        GROUP BY p.nprobe
    """


@query(
    "sim_ivf_nprobe_cost_model",
    oracle=_ivf_cost_sql(),
    tags=("similarity", "ivf", "embeddings"),
)
def sim_ivf_nprobe_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe COST MODEL: for nprobe = 1..4, the exact number of
    vectors a probe-limited search scans (probe schedule × actual cell
    populations) — the latency side of the recall/latency trade whose
    recall side is ``sim_ivf_nprobe_sweep`` (r05) and whose schedule is
    ``sim_ivf_probe_schedule`` (r07 window). Broadcast centroids,
    map-only assignment, the ≤4-row-per-query schedule joined to the
    8-row size table — all integer counts, output = 4 rows."""
    from big_data_audio_classification_spark.functions.vector import (
        l2_dist_sq,
        to_double,
    )
    from big_data_audio_classification_spark.operators.similarity import IVF_CELLS

    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", d2.alias("d2s")
    )
    w = Window.partitionBy("vec_id").orderBy("d2s", "cell_id")
    ranked = scored.select(
        "vec_id", "cell_id", F.row_number().over(w).alias("rn")
    )
    assign = ranked.filter(F.col("rn") == 1)
    sizes = assign.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    sched = ranked.filter(F.col("vec_id") % IVF_COST_QUERY_MOD == 0).select(
        "vec_id", "cell_id", F.col("rn").alias("probe_rank")
    )
    nprobes = F.broadcast(
        spark.range(1, 5).select(F.col("id").alias("nprobe"))
    )
    return (
        sched.join(F.broadcast(sizes), "cell_id")
        .crossJoin(nprobes)
        .filter(F.col("probe_rank") <= F.col("nprobe"))
        .groupBy(F.col("nprobe").cast("bigint").alias("nprobe"))
        .agg(
            F.countDistinct("vec_id").cast("bigint").alias("n_queries"),
            F.sum("sz").cast("bigint").alias("total_scanned"),
            # floor division on BOTH engines: a bare double->bigint cast
            # truncates on Spark but rounds on DuckDB
            F.floor(F.sum("sz") / F.countDistinct("vec_id"))
            .cast("bigint")
            .alias("avg_scanned"),
        )
    )


# ---------------------------------------------------------------------------
# similarity/ivf: per-cell quantization residual energy
# ---------------------------------------------------------------------------


def _ivf_residual_sql() -> str:
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )

    return f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                       AS d2
            FROM c a CROSS JOIN embeddings b
        ),
        assign AS (
            SELECT vec_id, cell_id, d2
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, cell_id) AS rn FROM d)
            WHERE rn = 1
        ),
        agg AS (
            SELECT cell_id,
                   CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   list_sum(list(d2 ORDER BY vec_id)) AS sum_d2,
                   list_sort(list(d2)) AS sorted_d2
            FROM assign GROUP BY cell_id
        )
        SELECT cell_id, n_vecs,
               ROUND(sum_d2 / n_vecs, 6)                         AS mean_sq_residual,
               ROUND(sorted_d2[(95 * n_vecs + 99) // 100], 6)    AS p95_sq_residual
        FROM agg
    """


@query(
    "sim_ivf_residual_energy",
    oracle=_ivf_residual_sql(),
    tags=("similarity", "ivf", "report", "embeddings"),
)
def sim_ivf_residual_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF QUANTIZATION-RESIDUAL energy per cell: mean and p95 of the
    squared distance to the assigned coarse centroid — the number that
    prices how much recall an IVF(+PQ) index will lose to coarse
    quantization BEFORE building it (population balance is the other
    axis: ``sim_ivf_cell_balance`` r06). The per-vector d2 is the
    in-row fixed-order fold both engines share; the per-cell MEAN is a
    SEQUENTIAL vec_id-ordered fold (Spark ``aggregate(array_sort(
    collect_list(...)))`` vs DuckDB ``list_sum(list(d2 ORDER BY
    vec_id))`` — the deterministic-summation idiom, since a cross-row
    float SUM is partition-order-dependent); p95 is an exact-rank
    ELEMENT of the sorted list (selected, never averaged). Broadcast
    centroids, one keyed aggregate; O(cells) output rows. At 100 TB
    the collect_list bound is the cell population — swap for the
    two-phase histogram quantile if cells exceed executor frames."""
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
        l2_dist_sq,
        to_double,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    assign = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id", "d2")
    )
    agg = assign.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "d2"))),
                lambda s: s["d2"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_d2"),
        F.array_sort(F.collect_list("d2")).alias("sorted_d2"),
    )
    p95_idx = F.expr("(95 * n_vecs + 99) DIV 100").cast("int")
    return agg.select(
        "cell_id",
        "n_vecs",
        F.round(F.col("sum_d2") / F.col("n_vecs"), 6).alias(
            "mean_sq_residual"
        ),
        F.round(F.element_at("sorted_d2", p95_idx), 6).alias(
            "p95_sq_residual"
        ),
    )


# ---------------------------------------------------------------------------
# ivf: split/merge maintenance plan from cell occupancy
# ---------------------------------------------------------------------------

SPLIT_RATIO = 2.0  # occupancy > 2x mean -> split candidate
MERGE_RATIO = 0.5  # occupancy < 0.5x mean -> merge candidate


def _ivf_split_merge_sql() -> str:
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )

    return f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                       AS d2
            FROM c a CROSS JOIN embeddings b
        ),
        assign AS (
            SELECT vec_id, cell_id
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, cell_id) AS rn FROM d)
            WHERE rn = 1
        ),
        occ AS (
            SELECT c.cell_id,
                   CAST(COUNT(a.vec_id) AS BIGINT) AS n_vecs
            FROM c LEFT JOIN assign a ON a.cell_id = c.cell_id
            GROUP BY c.cell_id
        ),
        tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
                       CAST(COUNT(*) AS BIGINT)    AS n_cells
                FROM occ)
        SELECT cell_id, n_vecs,
               ROUND(CAST(n_vecs AS DOUBLE) * n_cells / n_total, 6)
                   AS occupancy_ratio,
               CASE WHEN CAST(n_vecs AS DOUBLE) * n_cells
                         > {SPLIT_RATIO} * n_total THEN 'split'
                    WHEN CAST(n_vecs AS DOUBLE) * n_cells
                         < {MERGE_RATIO} * n_total THEN 'merge'
                    ELSE 'keep' END AS action
        FROM occ, tot
    """


@query(
    "sim_ivf_split_merge_plan",
    oracle=_ivf_split_merge_sql(),
    tags=("similarity", "ivf", "report", "embeddings"),
)
def sim_ivf_split_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX-MAINTENANCE PLAN: assign every vector to its nearest
    coarse cell, then flag each cell for SPLIT (occupancy > 2x the
    mean), MERGE (< 0.5x), or KEEP — the rebalancing decision an IVF
    index runs between builds (skewed cells destroy the nprobe/recall
    trade the sweep carriers measure; ``sim_ivf_cell_balance`` reports
    the skew, this op turns it into the action list). Assignment is
    the house broadcast-centroid + bit-identical in-row d2 fold +
    deterministic rank; occupancy is one keyed count over a cell
    SPINE (an empty cell must surface as a 'merge' row, not vanish —
    LEFT JOIN from the centroid set). The threshold comparisons are
    INTEGER cross-products (n·cells vs ratio·total — no float
    boundary hazard); occupancy_ratio is one float division of exact
    counts. O(cells) output rows at any corpus size."""
    from big_data_audio_classification_spark.functions.vector import (
        l2_dist_sq,
        to_double,
    )
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("c_emb"),
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    assign = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    spine = cents.select("cell_id")
    occ = (
        spine.join(assign, "cell_id", "left")
        .groupBy("cell_id")
        .agg(F.count("vec_id").cast("bigint").alias("n_vecs"))
    )
    tot = occ.agg(
        F.sum("n_vecs").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    nd = F.col("n_vecs").cast("double")
    return occ.crossJoin(F.broadcast(tot)).select(
        "cell_id",
        "n_vecs",
        F.round(nd * F.col("n_cells") / F.col("n_total"), 6).alias(
            "occupancy_ratio"
        ),
        F.when(
            nd * F.col("n_cells") > SPLIT_RATIO * F.col("n_total"), "split"
        )
        .when(nd * F.col("n_cells") < MERGE_RATIO * F.col("n_total"), "merge")
        .otherwise("keep")
        .alias("action"),
    )


# ---------------------------------------------------------------------------
# ivf: per-cell radius profile (quantization-quality dashboard)
# ---------------------------------------------------------------------------


def _ivf_radius_sql() -> str:
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )

    return f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        d AS (
            SELECT b.vec_id, a.cell_id,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                       AS d2
            FROM c a CROSS JOIN embeddings b
        ),
        assigned AS (
            SELECT vec_id, cell_id, d2
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY d2, cell_id) AS rn FROM d)
            WHERE rn = 1
        )
        SELECT CAST(cell_id AS BIGINT) AS cell_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               ROUND(MAX(d2), 6) AS max_d2,
               ROUND(list_sum(list(d2 ORDER BY vec_id)) / COUNT(*), 6)
                   AS mean_d2
        FROM assigned GROUP BY cell_id
    """


@query(
    "sim_ivf_cell_radius_profile",
    oracle=_ivf_radius_sql(),
    tags=("similarity", "ivf", "report", "embeddings"),
)
def sim_ivf_cell_radius_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF CELL RADIUS profile — the quantization-quality dashboard
    read before trusting an nprobe setting: per cell, member count,
    max squared distance (the cell radius that bounds how far a
    true neighbor can hide) and mean squared distance (the
    quantization error a PQ refinement would shave). Complements
    ``sim_ivf_cell_balance`` (counts only) and
    ``sim_ivf_residual_energy`` (vector residual sums) with the
    DISTANCE distribution. Assignment is the house broadcast-
    centroid argmin (d2 + cell_id tiebreak); each d2 is the in-row
    SEQUENTIAL zip fold (index order, both engines); the cross-member
    mean folds vec_id-ordered — never an engine-order float sum.
    ``+ 0`` unneeded: d2 >= 0 and a zero mean is exactly +0.0 on both
    engines (no negative rounding path). 100 TB: map-only scoring
    against |cells| broadcast centroids, one cell-keyed aggregate;
    the ordered fold becomes a two-level chunk fold at extreme cell
    sizes (cell_balance flags those first)."""
    from big_data_audio_classification_spark.functions.vector import (
        l2_dist_sq,
        to_double,
    )
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("c_emb")
    )
    d2 = l2_dist_sq(to_double(F.col("c_emb")), to_double(F.col("embedding")))
    scored = em.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    assigned = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id", "d2")
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("vec_id", "d2"))),
        lambda s: s["d2"],
    )
    agg = assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max("d2").alias("mx"),
        F.aggregate(ordered, F.lit(0.0), lambda a, x: a + x).alias("s"),
    )
    return agg.select(
        F.col("cell_id").cast("bigint").alias("cell_id"),
        "n_members",
        F.round("mx", 6).alias("max_d2"),
        F.round(F.col("s") / F.col("n_members"), 6).alias("mean_d2"),
    )


# ---------------------------------------------------------------------------
# ivf: coarse-centroid geometry report
# ---------------------------------------------------------------------------


def _centroid_geometry_sql() -> str:
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )

    return f"""
        WITH c AS (SELECT vec_id AS cell_id, embedding FROM embeddings
                   WHERE vec_id < {IVF_CELLS}),
        pairs AS (
            SELECT a.cell_id AS ca, b.cell_id AS cb,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                       AS d2
            FROM c a JOIN c b ON a.cell_id <> b.cell_id
        ),
        per AS (
            SELECT ca AS cell_id,
                   MIN(d2) AS min_d2, MAX(d2) AS max_d2
            FROM pairs GROUP BY ca
        ),
        diam AS (SELECT MAX(d2) AS diam_d2 FROM pairs)
        SELECT cell_id,
               ROUND(SQRT(min_d2), 6) AS nn_dist,
               ROUND(SQRT(max_d2), 6) AS far_dist,
               ROUND(SQRT(diam.diam_d2), 6) AS diameter
        FROM per, diam
    """


@query(
    "sim_ivf_centroid_geometry",
    oracle=_centroid_geometry_sql(),
    tags=("similarity", "ivf", "report", "embeddings"),
)
def sim_ivf_centroid_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COARSE-CENTROID GEOMETRY report: per-centroid nearest-neighbor
    and farthest-neighbor L2 distance plus the codebook diameter —
    the codebook-quality view that predicts IVF probe waste (two
    centroids closer than a typical cell radius split one true
    cluster across cells, so nprobe=1 recall craters; siblings:
    ``sim_ivf_cell_balance`` for population, ``sim_ivf_cell_radius_
    profile`` for residuals). Each pairwise distance folds the 64
    dims IN INDEX ORDER on both engines (zip_with/aggregate vs
    list_zip/list_sum — deterministic same-order sums of identical
    doubles); MIN/MAX over the 7 neighbor distances are order-free,
    and sqrt commutes with both (monotone), so it runs once on the
    selected d2. 100 TB: the centroid set is O(cells) rows —
    the whole report is a broadcast-sized crunch independent of
    corpus size."""
    from big_data_audio_classification_spark.functions.vector import (
        l2_dist_sq,
        to_double,
    )
    from big_data_audio_classification_spark.operators.similarity import (
        IVF_CELLS,
    )

    em = load_table(spark, sf_dir, "embeddings")
    c = em.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        to_double(F.col("embedding")).alias("emb"),
    )
    a = c.select(F.col("cell_id").alias("ca"), F.col("emb").alias("ea"))
    b = c.select(F.col("cell_id").alias("cb"), F.col("emb").alias("eb"))
    d2 = l2_dist_sq(F.col("ea"), F.col("eb"))
    pairs = (
        a.join(b, F.col("ca") != F.col("cb"))
        .select("ca", "cb", d2.alias("d2"))
    )
    per = pairs.groupBy(F.col("ca").alias("cell_id")).agg(
        F.min("d2").alias("min_d2"), F.max("d2").alias("max_d2")
    )
    diam = pairs.agg(F.max("d2").alias("diam_d2"))
    return per.crossJoin(F.broadcast(diam)).select(
        "cell_id",
        F.round(F.sqrt("min_d2"), 6).alias("nn_dist"),
        F.round(F.sqrt("max_d2"), 6).alias("far_dist"),
        F.round(F.sqrt("diam_d2"), 6).alias("diameter"),
    )
