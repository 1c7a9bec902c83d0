"""Iterative graph analytics over the embedding similarity graph:
PageRank centrality on the directed k-NN graph.

Why this belongs in a training-data engine: graph centrality over a
similarity graph is a curation signal — high-PageRank documents are
"representative" cluster cores, low-rank ones are outliers — and the
operator shape (iterated keyed join + aggregate with lineage cuts) is
the template for every fixed-point graph computation on Spark
(label propagation in `dedup_connected_components` is its sibling).

Scale notes:
* Edge construction here is the exact brute-force k-NN (deterministic,
  numpy-verifiable); at 100 TB build edges with the ANN paths instead
  (`sim_ivf_topk` / `sim_brp_lsh_ann`) — PageRank itself only sees an
  edge list and does not care how it was built.
* Each iteration is ONE shuffle keyed on dst (contribution aggregate)
  plus a src-keyed join that reuses the edge partitioning; ranks are
  `localCheckpoint()`ed every round so the lineage (and the plan) stays
  O(1) in the iteration count instead of O(rounds) — same discipline as
  connected components (operators/dedup.py).
* The k-NN graph has uniform out-degree k, so there are no dangling
  nodes and the out-degree division is a constant — on a general graph
  join a precomputed out-degree dimension (broadcast).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.functions.vector import cosine, to_double
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

KNN_K = 5
PR_DAMPING = 0.85
PR_ITERS = 12
# Node cap for the pagerank variant ONLY (the exact k-NN build is
# O(N²) in BOTH engines; 600 nodes ≈ the sf0.01 cost at every SF —
# same bounded-slice precedent as dedup_cc_transitive_oracle's
# CC_ORACLE_CAP; sf0.001/sf0.01 have ≤500 vectors, so the cap binds
# only at sf0.1). The at-scale edge build swaps in the IVF/LSH
# candidate join, as documented on knn_edges.
PR_NODE_CAP = 600


def knn_edges(spark: SparkSession, sf_dir: str, node_cap: int | None = None) -> DataFrame:
    """Directed k-NN edge list (src -> its KNN_K most cosine-similar
    vectors, ties broken by dst id). Exact form for determinism; swap
    in the IVF/LSH candidate join at corpus scale."""
    em = load_table(spark, sf_dir, "embeddings")
    if node_cap is not None:
        em = em.filter(F.col("vec_id") < node_cap)
    a = em.select(F.col("vec_id").alias("src"), F.col("embedding").alias("ea"))
    b = em.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("eb"))
    scored = a.join(b, F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        F.round(cosine(to_double(F.col("ea")), to_double(F.col("eb"))), 6).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    return (
        scored.select("src", "dst", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KNN_K)
        .select("src", "dst")
    )


def _pagerank_oracle() -> str:
    """Unrolled PageRank oracle: deterministic k-NN edge CTE (rounded
    cosine, dst tiebreak — identical to ``knn_edges``) + PR_ITERS
    materialized propagation rounds (memory: un-MATERIALIZED iterative
    CTEs re-inline exponentially in DuckDB). Rank sums drift only at
    the ~1e-15 summation-order level, far inside the ROUND(_, 8)."""
    sql_cos = """
        list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (SQRT(list_sum(list_transform(a.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * SQRT(list_sum(list_transform(b.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    """
    parts = [
        f"""nset AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {PR_NODE_CAP}),
        edges AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT a.vec_id AS src, b.vec_id AS dst,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                           ORDER BY ROUND({sql_cos}, 6) DESC, b.vec_id) AS rn
                FROM nset a JOIN nset b ON a.vec_id <> b.vec_id)
            WHERE rn <= {KNN_K})""",
        """nodes AS MATERIALIZED (SELECT DISTINCT src AS vec_id FROM edges)""",
        """nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)""",
        """ranks0 AS MATERIALIZED (
            SELECT vec_id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)""",
    ]
    for r in range(1, PR_ITERS + 1):
        parts.append(f"""ranks{r} AS MATERIALIZED (
            SELECT no.vec_id,
                   (1.0 - {PR_DAMPING}) / (SELECT n FROM nn)
                   + {PR_DAMPING} * COALESCE(c.contrib, 0.0) AS rank
            FROM nodes no LEFT JOIN (
                SELECT e.dst, SUM(r.rank / {KNN_K}) AS contrib
                FROM edges e JOIN ranks{r - 1} r ON r.vec_id = e.src
                GROUP BY e.dst) c
            ON c.dst = no.vec_id)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vec_id, ROUND(rank, 8) AS pagerank FROM ranks{PR_ITERS}"
    )


@query(
    "graph_pagerank_knn",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative", "embeddings"),
)
def graph_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 12 synchronous iterations) over the
    directed cosine k-NN graph of the embeddings table.

    r_{t+1}(v) = (1-d)/n + d * Σ_{u→v} r_t(u) / outdeg(u)

    Every node has out-degree KNN_K (no dangling mass). Per iteration:
    join ranks onto edges by src (edge partitioning reused), aggregate
    contributions by dst (the one shuffle), left-join back onto the
    node set so in-degree-0 nodes keep the teleport term.

    The edge list is checkpointed BEFORE the node set is derived from
    it (r11 — ``nodes`` previously referenced the UN-checkpointed
    knn_edges frame, so every round's left join re-ran the whole
    all-pairs cosine top-k: the sim_kcenter_seeds re-planning
    pathology, ~12× the kNN cost for 12 rounds); ``nodes`` is also
    persisted for its one-join-per-round reuse. Same rows, same
    doubles — only the recomputation is gone."""
    edges = knn_edges(spark, sf_dir, node_cap=PR_NODE_CAP).localCheckpoint(
        eager=True
    )
    nodes = edges.select(F.col("src").alias("vec_id")).distinct().persist()
    n = nodes.count()
    ranks = nodes.select("vec_id", F.lit(1.0 / n).alias("rank"))
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["vec_id"])
            .select("dst", (F.col("rank") / KNN_K).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes["vec_id"] == contribs["dst"], "left")
            .select(
                "vec_id",
                (
                    F.lit((1.0 - PR_DAMPING) / n)
                    + PR_DAMPING * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("vec_id", F.round("rank", 8).alias("pagerank"))


TRI_NODES = 97  # modulus for the synthetic event-interaction graph


@query(
    "graph_triangle_count",
    oracle=f"""
        WITH raw AS (
            SELECT event_id % {TRI_NODES}           AS u,
                   (event_id * 7 + 3) % {TRI_NODES} AS v
            FROM events
        ),
        e AS (
            SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
            FROM raw WHERE u <> v
        )
        SELECT CAST((SELECT COUNT(*) FROM e e1
                     JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                     JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS BIGINT)
                   AS n_triangles,
               CAST((SELECT COUNT(*) FROM e) AS BIGINT)  AS n_edges,
               CAST((SELECT COUNT(DISTINCT u) FROM
                     (SELECT u FROM e UNION ALL SELECT v FROM e)) AS BIGINT)
                   AS n_nodes
    """,
    tags=("graph", "triangles", "events"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting by DEGREE ORIENTATION — the canonical
    distributed formulation (node-iterator++ / Cohen's MapReduce
    algorithm): orient every undirected edge from its lower-(degree,id)
    endpoint to the higher one, build wedges by self-joining the
    oriented list on the source, and close each wedge against the
    oriented edge list. Every triangle has exactly ONE vertex whose two
    incident edges both point outward under a total order, so each is
    counted exactly once — and orienting by DEGREE bounds the wedge
    fan-out per node by the graph's degeneracy (a hub of degree d
    contributes d² wedges if naive, but near-zero once its edges all
    point INTO it), which is the difference between O(m^1.5) and
    O(m·d_max) at 100 TB. The oracle is the brute-force a<b<c triple
    join over the same derived graph.

    Shuffles: edge distinct (keyed), degree agg (keyed), wedge
    self-join + closure join (both equi-joins on node keys) — no
    cartesian anywhere; the synthetic interaction graph derives
    deterministically from the events table so both engines see the
    same edges."""
    e = load_table(spark, sf_dir, "events")
    raw = e.select(
        (F.col("event_id") % TRI_NODES).alias("u"),
        ((F.col("event_id") * 7 + 3) % TRI_NODES).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    und = raw.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    # orient each edge from lower (deg, id) to higher (deg, id)
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    keyed = und.join(du, "u").join(dv, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = keyed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    w1 = oriented.select(F.col("a").alias("x"), F.col("b").alias("p"))
    w2 = oriented.select(F.col("a").alias("x"), F.col("b").alias("q"))
    wedges = w1.join(w2, "x").filter(F.col("p") < F.col("q"))
    # canonicalize the closing edge by ID so the closure is ONE
    # equi-join on (p, q) — an OR of orientations would fall back to a
    # nested-loop join
    closer = oriented.select(
        F.least("a", "b").alias("p"), F.greatest("a", "b").alias("q")
    )
    tri = wedges.join(closer, ["p", "q"])
    n_tri = tri.agg(F.count("*").cast("bigint").alias("n_triangles"))
    n_edges = und.agg(F.count("*").cast("bigint").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    return (
        n_tri.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_nodes))
    )


PR_ORACLE_CAP = 600  # vec slice for the cross-engine-verified variant

_SQL_COSINE_EMB = """
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (SQRT(list_sum(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * SQRT(list_sum(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


def _pr_oracle_sql() -> str:
    """PR_ITERS synchronous PageRank rounds UNROLLED as chained CTEs —
    SQL has no loop, but a fixed iteration count is just composition."""
    steps = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        steps.append(f"""
        r{i} AS (
            SELECT nodes.vec_id,
                   (1 - {PR_DAMPING}) / (SELECT n FROM nn)
                   + {PR_DAMPING} * COALESCE(c.contrib, 0) AS rank
            FROM nodes LEFT JOIN (
                SELECT e.dst, SUM({prev}.rank / {KNN_K}) AS contrib
                FROM e JOIN {prev} ON {prev}.vec_id = e.src
                GROUP BY e.dst
            ) c ON c.dst = nodes.vec_id
        )""")
        prev = f"r{i}"
    return f"""
        WITH emb AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {PR_ORACLE_CAP}
        ),
        sim AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   ROUND({_SQL_COSINE_EMB}, 6) AS sim
            FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
        ),
        e AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY sim DESC, dst) AS rn
                FROM sim
            ) WHERE rn <= {KNN_K}
        ),
        nodes AS (SELECT DISTINCT src AS vec_id FROM e),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (SELECT vec_id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        {",".join(steps)}
        SELECT vec_id, ROUND(rank, 8) AS pagerank FROM {prev}
    """


@query(
    "graph_pagerank_oracle",
    oracle=_pr_oracle_sql(),
    tags=("graph", "pagerank", "iterative", "embeddings"),
)
def graph_pagerank_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-verified PageRank: the SAME synchronous iteration
    as ``graph_pagerank_knn`` on a fixed vec slice, hash-checked
    against DuckDB running the 12 rounds UNROLLED as chained CTEs over
    the identical round-6 cosine k-NN edge list. A fixed-iteration
    synchronous fixed point is a pure function of the edge list, so
    the two engines must agree to the 1e-8 output rounding — the same
    upgrade pattern as ``dedup_cc_transitive_oracle`` (iterative
    algorithm, independent formulation, exact comparison).

    The slice cap bounds the oracle's quadratic cosine join; the Spark
    side is the identical per-round plan as the production query."""
    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < PR_ORACLE_CAP
    )
    a = em.select(F.col("vec_id").alias("src"), F.col("embedding").alias("ea"))
    b = em.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("eb"))
    scored = a.join(b, F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        F.round(cosine(to_double(F.col("ea")), to_double(F.col("eb"))), 6)
        .alias("sim"),
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    edges = (
        scored.select("src", "dst", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KNN_K)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    # persisted: the node set is re-joined every round (r11 — the lazy
    # form re-ran the distinct per round; same rows, recompute gone)
    nodes = edges.select(F.col("src").alias("vec_id")).distinct().persist()
    n = nodes.count()
    ranks = nodes.select("vec_id", F.lit(1.0 / n).alias("rank"))
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["vec_id"])
            .select("dst", (F.col("rank") / KNN_K).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes["vec_id"] == contribs["dst"], "left")
            .select(
                "vec_id",
                (
                    F.lit((1.0 - PR_DAMPING) / n)
                    + PR_DAMPING * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("vec_id", F.round("rank", 8).alias("pagerank"))


KHOP_SEEDS = 3  # BFS roots: c_custkey <= KHOP_SEEDS
KHOP_HOPS = 4
KHOP_M1 = 48271  # Lehmer multipliers — two out-edges per node
KHOP_M2 = 16807


@query(
    "graph_khop_reachability",
    oracle=f"""
        WITH RECURSIVE b AS (SELECT MAX(c_custkey) AS nn FROM customer),
        e AS (
            SELECT c_custkey AS src,
                   1 + (c_custkey * {KHOP_M1}) % nn AS dst
            FROM customer CROSS JOIN b
            WHERE 1 + (c_custkey * {KHOP_M1}) % nn <> c_custkey
            UNION ALL
            SELECT c_custkey,
                   1 + (c_custkey * {KHOP_M2}) % nn
            FROM customer CROSS JOIN b
            WHERE 1 + (c_custkey * {KHOP_M2}) % nn <> c_custkey
        ),
        r AS (
            SELECT c_custkey AS node, 0 AS hop
            FROM customer WHERE c_custkey <= {KHOP_SEEDS}
            UNION ALL
            SELECT e.dst, r.hop + 1
            FROM r JOIN e ON e.src = r.node
            WHERE r.hop < {KHOP_HOPS}
        )
        SELECT node, CAST(MIN(hop) AS INTEGER) AS min_hop
        FROM r GROUP BY node
    """,
    tags=("graph", "bfs", "iterative", "customer"),
)
def graph_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS to depth 4 from 3 seed customers over a synthetic
    2-regular referral graph (edges u → 1+(u·48271 mod n) and
    u → 1+(u·16807 mod n), self-loops dropped; n = max custkey, so the
    graph is a pure function of the table and both engines derive it
    identically).

    Engine form: the frontier expands by one equi-join per hop (each a
    dst-keyed join against the shared edge relation — at scale, edges
    bucket by src and every hop is a co-located join); min-hop is the
    final groupBy. The oracle replays the same expansion as a bounded
    RECURSIVE CTE — iterative DataFrame loop vs. recursive SQL must
    agree exactly because min-hop is iteration-order invariant (cf.
    the connected-components and PageRank cross-engine checks)."""
    cust = load_table(spark, sf_dir, "customer")
    n_row = F.broadcast(cust.agg(F.max("c_custkey").alias("nn")))
    base = cust.select("c_custkey").crossJoin(n_row)
    edges = None
    for mult in (KHOP_M1, KHOP_M2):
        dst = 1 + (F.col("c_custkey") * F.lit(mult)) % F.col("nn")
        leg = base.select(
            F.col("c_custkey").alias("src"), dst.alias("dst")
        ).where(F.col("dst") != F.col("src"))
        edges = leg if edges is None else edges.unionAll(leg)
    edges = edges.localCheckpoint(eager=True)  # reused every hop
    frontier = cust.where(F.col("c_custkey") <= KHOP_SEEDS).select(
        F.col("c_custkey").alias("node"), F.lit(0).alias("hop")
    )
    reached = frontier
    for _ in range(KHOP_HOPS):
        frontier = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("hop") + 1).alias("hop"),
            )
        )
        reached = reached.unionAll(frontier)
    return reached.groupBy("node").agg(
        F.min("hop").cast("int").alias("min_hop")
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
        WITH sim AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   ROUND({_SQL_COSINE_EMB}, 6) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        ),
        e AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY sim DESC, dst) AS rn
                FROM sim
            ) WHERE rn <= {KNN_K}
        ),
        ind AS (SELECT dst AS v, COUNT(*) AS d FROM e GROUP BY dst),
        pairs AS (
            SELECT COALESCE(sa.d, 0) AS x, COALESCE(sb.d, 0) AS y
            FROM e LEFT JOIN ind sa ON sa.v = e.src
                   LEFT JOIN ind sb ON sb.v = e.dst
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM pairs
        )
        SELECT n AS n_edges,
               (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e) AS n_nodes,
               ROUND((n * 1.0 * sxy - sx * 1.0 * sy)
                     / (SQRT(n * 1.0 * sxx - sx * 1.0 * sx)
                        * SQRT(n * 1.0 * syy - sy * 1.0 * sy)), 6)
                   AS assortativity
        FROM s
    """,
    tags=("graph", "embeddings", "correlation"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the k-NN similarity graph:
    Pearson correlation of (in-degree(src), in-degree(dst)) across
    directed edges. Negative values (hubs pointing at low-degree
    nodes) signal hub-and-spoke cluster cores — a structural curation
    diagnostic that complements PageRank: it reads the WHOLE degree
    mixing pattern, not per-node scores.

    Determinism: every correlation input is an exact integer sum
    (degrees and their products), so r is identical double algebra in
    both engines. 100 TB design: in-degrees are one edge aggregate;
    the two degree attachments are keyed equi-joins on the edge list;
    the correlation is a single 6-sum map-side-combinable aggregate —
    the one-pass-covariance idiom of ml_closed_form OLS applied to
    graph structure.
    """
    e = knn_edges(spark, sf_dir)
    ind = e.groupBy(F.col("dst").alias("v")).agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        e.join(ind.select(F.col("v").alias("src"), F.col("d").alias("x")), "src", "left")
        .join(ind.select(F.col("v").alias("dst"), F.col("d").alias("y")), "dst", "left")
        .select(
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nodes = e.agg(F.countDistinct("src").cast("bigint").alias("n_nodes"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = (n * 1.0 * F.col("sxy") - sx * 1.0 * sy) / (
        F.sqrt(n * 1.0 * F.col("sxx") - sx * 1.0 * sx)
        * F.sqrt(n * 1.0 * F.col("syy") - sy * 1.0 * sy)
    )
    return s.crossJoin(F.broadcast(nodes)).select(
        F.col("n").alias("n_edges"),
        "n_nodes",
        F.round(r, 6).alias("assortativity"),
    )


AA_TOPK = 10


@query(
    "graph_adamic_adar",
    oracle=f"""
        WITH raw AS (
            SELECT event_id % {TRI_NODES}           AS u,
                   (event_id * 7 + 3) % {TRI_NODES} AS v
            FROM events
        ),
        e AS (
            SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
            FROM raw WHERE u <> v
        ),
        adj AS (
            SELECT u AS z, v AS n FROM e
            UNION ALL SELECT v AS z, u AS n FROM e
        ),
        deg AS (SELECT z, COUNT(*) AS d FROM adj GROUP BY z),
        wedge AS (
            SELECT a1.n AS u, a2.n AS w, a1.z AS z
            FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.n < a2.n
        ),
        cand AS (
            SELECT wg.u, wg.w, wg.z FROM wedge wg
            ANTI JOIN e ON e.u = wg.u AND e.v = wg.w
        ),
        scored AS (
            SELECT c.u, c.w,
                   CAST(COUNT(*) AS BIGINT) AS n_common,
                   ROUND(SUM(1.0 / LN(d.d)), 6) AS aa_score
            FROM cand c JOIN deg d ON d.z = c.z
            GROUP BY c.u, c.w
        )
        SELECT u, w, n_common, aa_score
        FROM scored
        ORDER BY aa_score DESC, u, w LIMIT {AA_TOPK}
    """,
    tags=("graph", "link-prediction", "events"),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the deterministic event-
    interaction graph (same derivation as graph_triangle_count): for
    every NON-adjacent pair with common neighbors, score
    AA(u,w) = Σ_{{z ∈ N(u)∩N(w)}} 1/ln(deg z) — common neighbors
    weighted inversely by how promiscuous they are — and emit the
    top-10 predicted links.

    Fully relational link prediction: the wedge enumeration is ONE
    equi-join of the adjacency list with itself on the center node
    (the exact shape triangle counting uses, fan-out bounded by the
    center's degree), existing edges leave via an anti-join on the
    canonical edge set, and the score is a keyed aggregate over a
    broadcast-sized degree table. Degree-1 centers cannot form wedges,
    so 1/ln(d) is always finite. Top-k is TakeOrderedAndProject with
    the (rounded score, pair) total order stated identically in both
    engines.

    100 TB story: this is the candidate-generation kernel of
    friend-of-friend recommendation; the wedge join shuffles on the
    center node key (skew-bounded by degree orientation when hubs
    appear — see graph_triangle_count), never all-pairs.
    """
    e = load_table(spark, sf_dir, "events")
    raw = e.select(
        (F.col("event_id") % TRI_NODES).alias("u"),
        ((F.col("event_id") * 7 + 3) % TRI_NODES).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    und = raw.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    adj = und.select(F.col("u").alias("z"), F.col("v").alias("n")).unionAll(
        und.select(F.col("v").alias("z"), F.col("u").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    a1 = adj.select("z", F.col("n").alias("u"))
    a2 = adj.select("z", F.col("n").alias("w"))
    wedge = a1.join(a2, "z").filter(F.col("u") < F.col("w"))
    cand = wedge.join(
        und.withColumnRenamed("v", "w"), ["u", "w"], "left_anti"
    )
    scored = (
        cand.join(F.broadcast(deg), "z")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("aa_score"),
        )
    )
    return scored.orderBy(
        F.col("aa_score").desc(), "u", "w"
    ).limit(AA_TOPK).select("u", "w", "n_common", "aa_score")


@query(
    "sim_mutual_knn",
    oracle=f"""
        WITH sim AS (
            SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS sl,
                   b.label AS dl,
                   ROUND({_SQL_COSINE_EMB}, 6) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        ),
        e AS (
            SELECT src, dst, sl, dl FROM (
                SELECT src, dst, sl, dl,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY sim DESC, dst) AS rn
                FROM sim
            ) WHERE rn <= {KNN_K}
        ),
        mutual AS (
            SELECT e1.src, e1.dst, e1.sl, e1.dl
            FROM e e1 JOIN e e2 ON e2.src = e1.dst AND e2.dst = e1.src
            WHERE e1.src < e1.dst
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_mutual_pairs,
               ROUND(2.0 * COUNT(*)
                     / (SELECT COUNT(*) FROM e), 6) AS mutual_rate,
               CAST(SUM(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT)
                   AS same_label_pairs,
               ROUND(SUM(CASE WHEN sl = dl THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS same_label_rate
        FROM mutual
    """,
    tags=("graph", "similarity", "embeddings", "knn"),
)
def sim_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal (mutual) k-NN: the pairs where each vector ranks the
    other inside its own top-k — the standard high-precision filter on
    ANN candidates (near-dup verification, cluster-seed mining),
    because a one-directional neighbor is often just a hub effect.
    Reports the mutuality rate of the k-NN graph and how often mutual
    pairs share the class label (an unsupervised embedding-quality
    probe: mutual neighbors should agree far above chance).

    Shape: the reciprocity test is ONE self-equi-join of the edge list
    on the reversed key pair (src,dst)=(dst,src) — never a rescan of
    similarities; label agreement rides the edges (labels attached at
    edge build, no extra join against the vectors). The exact k-NN
    build is the oracle-checkable exemplar; at corpus scale the edge
    list comes from the IVF/LSH candidate join (sim_ivf_topk) and this
    operator is unchanged — it only sees edges.
    """
    em = load_table(spark, sf_dir, "embeddings")
    a = em.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("label").alias("sl"),
    )
    b = em.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("dl"),
    )
    scored = a.join(b, F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        "sl",
        "dl",
        F.round(
            cosine(to_double(F.col("ea")), to_double(F.col("eb"))), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    e = (
        scored.select("src", "dst", "sl", "dl", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KNN_K)
        .select("src", "dst", "sl", "dl")
    )
    e2 = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(e2, ["src", "dst"]).where(F.col("src") < F.col("dst"))
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        mutual.agg(
            F.count("*").cast("bigint").alias("n_mutual_pairs"),
            F.sum(F.when(F.col("sl") == F.col("dl"), 1).otherwise(0))
            .cast("bigint")
            .alias("same_label_pairs"),
        )
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_edges",
            "n_mutual_pairs",
            F.round(2.0 * F.col("n_mutual_pairs") / F.col("n_edges"), 6).alias(
                "mutual_rate"
            ),
            "same_label_pairs",
            F.round(
                F.col("same_label_pairs") * 1.0 / F.col("n_mutual_pairs"), 6
            ).alias("same_label_rate"),
        )
    )


# --- k-core decomposition (iterated peeling) ------------------------------

KCORE_K = 5
KCORE_ROUNDS = 6      # fixpoint reached in 2 on this graph; extra rounds
# are idempotent (pytest asserts convergence)
KCORE_EVENTS = 400    # fixed slice => identical graph at every SF
KCORE_NODES = 97


def _kcore_edge_sql() -> str:
    return f"""
        SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM (
            SELECT CAST(('0x' || substr(md5(event_id || 'u'), 1, 8))
                        AS BIGINT) % {KCORE_NODES} AS u,
                   CAST(('0x' || substr(md5(event_id || 'v'), 1, 8))
                        AS BIGINT) % {KCORE_NODES} AS v
            FROM events WHERE event_id < {KCORE_EVENTS}
        ) WHERE u <> v
    """


def _kcore_oracle_sql() -> str:
    ctes = [f"e0 AS MATERIALIZED ({_kcore_edge_sql()})"]
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
            SELECT n, COUNT(*) AS deg FROM (
                SELECT u AS n FROM e{i - 1}
                UNION ALL SELECT v AS n FROM e{i - 1}
            ) GROUP BY n
        )"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
            SELECT e.u, e.v FROM e{i - 1} e
            JOIN d{i} a ON a.n = e.u AND a.deg >= {KCORE_K}
            JOIN d{i} b ON b.n = e.v AND b.deg >= {KCORE_K}
        )"""
        )
    cte_block = ",\n        ".join(ctes)
    return f"""WITH {cte_block}
        SELECT CAST(n AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT)
                   AS core_degree
        FROM (SELECT u AS n FROM e{KCORE_ROUNDS}
              UNION ALL SELECT v AS n FROM e{KCORE_ROUNDS})
        GROUP BY n ORDER BY node
    """


@query(
    "graph_kcore",
    oracle=_kcore_oracle_sql(),
    tags=("graph", "kcore", "iterative", "events"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=5) by iterated peeling: repeatedly drop
    every node with degree < k (and its edges) until the subgraph is
    stable — the densest-region extractor behind community seeding,
    spam-ring detection, and graph sparsification. The graph is a
    bounded hash-random derivation from the event slice (fixed across
    SFs, like the CC oracle slice), degree-varied so the core is
    non-trivial (84 of 97 nodes survive; ~13 peel away over 2 rounds).

    Iterative-on-Spark shape (the connected-components discipline):
    each peel round is ONE degree aggregate + ONE semi-join filter of
    the edge list — no windows, no driver-side graph. A fixed round
    budget (6) replaces the unbounded while-loop; rounds beyond the
    fixpoint are idempotent and the pytest asserts convergence
    actually happened inside the budget. The oracle unrolls the same
    rounds as chained CTEs (the pagerank idiom).

    Output = surviving nodes with their within-core degree (all ≥ k by
    definition — asserted).
    """
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_id") < KCORE_EVENTS
    )
    h = lambda suf: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit(suf))), 1, 8),
        16,
        10,
    ).cast("bigint") % KCORE_NODES
    raw = e.select(h("u").alias("u"), h("v").alias("v")).where(
        F.col("u") != F.col("v")
    )
    edges = raw.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    # truncate lineage every round (the connected-components
    # localCheckpoint discipline): each round references `edges` three
    # times, so an uncheckpointed plan recomputes the base 3^rounds
    # times and planning itself blows up
    edges = edges.localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        deg = (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= KCORE_K)
            .select("n")
        )
        edges = edges.join(
            deg.withColumnRenamed("n", "u"), "u", "semi"
        ).join(deg.withColumnRenamed("n", "v"), "v", "semi")
        edges = edges.localCheckpoint(eager=True)
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# graph: synchronous min-label propagation over the k-NN graph
# ---------------------------------------------------------------------------

LP_ROUNDS = 4
LP_NODE_CAP = 600  # same bounded exact-kNN slice as graph_pagerank_knn


def _label_prop_sql() -> str:
    from big_data_audio_classification_spark.operators.graph import KNN_K

    sql_cos = """
        list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        / (SQRT(list_sum(list_transform(a.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * SQRT(list_sum(list_transform(b.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    """
    parts = [
        f"""nset AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {LP_NODE_CAP})""",
        f"""dedges AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT a.vec_id AS src, b.vec_id AS dst,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                           ORDER BY ROUND({sql_cos}, 6) DESC, b.vec_id) AS rn
                FROM nset a JOIN nset b ON a.vec_id <> b.vec_id)
            WHERE rn <= {KNN_K})""",
        """edges AS MATERIALIZED (
            SELECT src, dst FROM dedges
            UNION SELECT dst, src FROM dedges)""",
        """labels0 AS MATERIALIZED (
            SELECT vec_id, vec_id AS label FROM nset)""",
    ]
    for r in range(1, LP_ROUNDS + 1):
        parts.append(f"""labels{r} AS MATERIALIZED (
            SELECT l.vec_id,
                   LEAST(l.label, COALESCE(MIN(nl.label), l.label)) AS label
            FROM labels{r - 1} l
            LEFT JOIN edges e ON e.dst = l.vec_id
            LEFT JOIN labels{r - 1} nl ON nl.vec_id = e.src
            GROUP BY l.vec_id, l.label)""")
    sep = ",\n        "
    return f"""
        WITH {sep.join(parts)}
        SELECT CAST(label AS BIGINT)    AS label,
               CAST(COUNT(*) AS BIGINT) AS n_members
        FROM labels{LP_ROUNDS} GROUP BY label
    """


@query(
    "graph_label_propagation_sync",
    oracle=_label_prop_sql(),
    tags=("graph", "iterative", "similarity", "embeddings"),
)
def graph_label_propagation_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYNCHRONOUS MIN-LABEL PROPAGATION (4 rounds) over the
    symmetrized k-NN embedding graph — the community/component seeding
    pass (HashMin: every node takes the minimum label in its closed
    neighborhood each round; after r rounds labels have flowed r hops,
    so cluster structure at radius 4 is visible without running CC to
    convergence — full CC: ``dedup_connected_components``; spectral
    cousin: ``graph_pagerank_knn``). Deterministic end-to-end: the
    exact k-NN build uses the rounded-cosine/dst tiebreak shared with
    pagerank, labels are integers, min is order-free. Spark unrolls
    the rounds as join+groupBy over a checkpointed edge list (the
    Pregel superstep shape — at 100 TB each round is ONE shuffle keyed
    by dst); the oracle unrolls MATERIALIZED CTEs. Output is the
    cluster-size census, O(#labels) rows."""
    from big_data_audio_classification_spark.operators.graph import knn_edges

    dedges = knn_edges(spark, sf_dir, node_cap=LP_NODE_CAP)
    edges = (
        dedges.select("src", "dst")
        .union(dedges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    em = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < LP_NODE_CAP
    )
    labels = em.select("vec_id", F.col("vec_id").alias("label"))
    for _ in range(LP_ROUNDS):
        incoming = (
            edges.join(
                labels.select(
                    F.col("vec_id").alias("src"), F.col("label").alias("nl")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("vec_id"))
            .agg(F.min("nl").alias("min_in"))
        )
        labels = (
            labels.join(incoming, "vec_id", "left")
            .select(
                "vec_id",
                F.least(
                    F.col("label"), F.coalesce("min_in", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
