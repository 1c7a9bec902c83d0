"""Deduplication family for LLM-training-data pipelines (mandated
surface, SURVEY §2.B): exact hash dedup, MinHash + LSH banding,
SimHash, and n-gram Jaccard near-dup.

Everything here is built from deterministic, engine-portable hashing
(md5 hex → integer) so every stage — including MinHash signatures and
SimHash fingerprints — is bit-for-bit reproducible in the DuckDB oracle.
An MLlib ``MinHashLSH`` variant lives in operators/similarity.py for the
approxSimilarityJoin API surface (rows-only check: MLlib's internal
hash seeds are engine-specific).

Scale notes (the whole point of these algorithms):
* Exact dedup: groupBy(sha256(text)) — one shuffle keyed by digest; at
  100 TB shuffle carries 32-byte keys + doc ids, never the text.
* MinHash/LSH: per-doc signature is a bounded-size agg (k mins); the
  O(n²) pair explosion is avoided by joining only docs sharing an LSH
  band bucket — the equi-join on (band_id, band_hash) shuffles each doc
  signature b times, not n² pairs.
* SimHash: per-doc 32-bit fingerprint via one token-explode + groupBy;
  near-dup candidates = equal fingerprint (or banded prefix equality).
* Jaccard verification runs only on candidate pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

# MinHash parameters: k permutations in b bands of r rows (k = b*r).
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
_MERSENNE = 2147483647  # 2^31 - 1
# Deterministic affine-permutation coefficients (public textbook scheme:
# h_j(x) = (a_j * x + b_j) mod p). Fixed small odd multipliers keep the
# 64-bit products overflow-free in both engines.
_A = [2 * j + 3 for j in range(MINHASH_K)]
_B = [7919 * (j + 1) % _MERSENNE for j in range(MINHASH_K)]


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, empties removed — identical semantics to the
    oracle's string_split + filter."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_hash(tok: Column) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5 → bigint.
    md5 is identical across engines, unlike xxhash/murmur defaults."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")


_SQL_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"
_SQL_TOKHASH = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"


@query(
    "dedup_exact_hash",
    oracle="""
        SELECT sha256(text) AS content_hash,
               MIN(doc_id)  AS keep_doc_id,
               COUNT(*)     AS n_copies
        FROM documents
        GROUP BY 1
    """,
    tags=("dedup", "documents"),
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: keep the smallest doc_id per
    sha256(text) group. Digest-keyed shuffle — text never moves."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, m0..m{k-1}) MinHash signature per document.

    One explode + one groupBy: the k permutations are k aggregate
    expressions over the same exploded tokens, not k passes."""
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok")
    )
    hv = toks.select(id_col, token_hash(F.col("tok")).alias("hv"))
    mins = [
        F.min((F.col("hv") * _A[j] + _B[j]) % _MERSENNE).alias(f"m{j}")
        for j in range(MINHASH_K)
    ]
    return hv.groupBy(id_col).agg(*mins)


def _minhash_sql(inner: str = "documents") -> str:
    mins = ",\n               ".join(
        f"MIN((hv * {_A[j]} + {_B[j]}) % {_MERSENNE}) AS m{j}"
        for j in range(MINHASH_K)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok FROM {inner}
        ),
        h AS (SELECT doc_id, {_SQL_TOKHASH} AS hv FROM toks)
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    """


@query("dedup_minhash_signatures", oracle=_minhash_sql(), tags=("dedup", "minhash"))
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signatures (k=16 affine permutations over
    portable 32-bit token hashes) — exactly reproduced by the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_signature(d, "doc_id", "text")


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band the signature (b bands × r rows) and emit candidate pairs
    sharing any band. The unpivot-to-bands + self-equi-join is the
    scalable shape: shuffle keyed by (band_id, band_hash)."""
    bands = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"m{b * LSH_ROWS + r}")
                            for r in range(LSH_ROWS)
                        ],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates()
    )


def _lsh_pairs_sql(inner: str = "documents") -> str:
    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_sql(inner)}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """


@query("dedup_minhash_lsh_pairs", oracle=_lsh_pairs_sql(), tags=("dedup", "minhash", "lsh"))
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on any of 4 bands of 4
    minhashes (≈ Jaccard ≳ 0.7 with high probability)."""
    d = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signature(d, "doc_id", "text"))


def _simhash_bits() -> list[Column]:
    return [
        F.sum(
            F.when((F.shiftright(F.col("hv"), i).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(32)
    ]


def _simhash_sql() -> str:
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok FROM documents
        ),
        h AS (SELECT doc_id, {_SQL_TOKHASH} AS hv FROM toks),
        bits AS (
            SELECT doc_id,
               {bit_sums}
            FROM h GROUP BY doc_id
        )
        SELECT doc_id, {recombine} AS simhash
        FROM bits
    """


@query("dedup_simhash", oracle=_simhash_sql(), tags=("dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (Charikar scheme: sign of
    per-bit weighted sums over token hashes). Near-dups differ in few
    bits; candidate generation at scale = equality on fingerprint or on
    banded prefixes. One explode + one groupBy with 32 sum aggregates."""
    d = load_table(spark, sf_dir, "documents")
    hv = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("doc_id", token_hash(F.col("tok")).alias("hv"))
    bits = hv.groupBy("doc_id").agg(*_simhash_bits())
    fingerprint = None
    for i in range(32):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return bits.select("doc_id", fingerprint.alias("simhash"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, source,
                   list_distinct(
                       list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i + 1])
                   ) AS grams
            FROM (SELECT doc_id, source, {_SQL_TOKENS} AS toks FROM documents)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / (len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams))), 6) AS jaccard
        FROM g a JOIN g b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.grams) > 0 AND len(b.grams) > 0
    """,
    tags=("dedup", "ngram"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard similarity over candidate pairs blocked by
    ``source``. Blocking keeps the pair space linear-ish; at 100 TB the
    blocking key would be an LSH band (see dedup_minhash_lsh_pairs) —
    the verify-with-true-Jaccard stage is identical."""
    d = load_table(spark, sf_dir, "documents")
    # persisted projection + single slice() per gram: the inline form
    # re-ran the tokenizer per element_at inside the lambda (the O(T²)
    # pathology fixed across the shingle family in r05)
    base = d.select(
        "doc_id", "source", tokens_col(F.col("text")).alias("toks")
    ).persist()
    tcol = F.col("toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tcol) - 1),
            lambda i: F.concat_ws(" ", F.slice(tcol, i, 2)),
        )
    )
    g = base.select("doc_id", "source", grams.alias("grams")).filter(
        F.size("grams") > 0
    )
    a, b = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )


def _keep_first_sql() -> str:
    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        ),
        bucket_min AS (
            SELECT band_id, band_hash, MIN(doc_id) AS rep
            FROM bands GROUP BY 1, 2
        )
        SELECT b.doc_id,
               MIN(m.rep)                 AS rep,
               (MIN(m.rep) = b.doc_id)    AS is_kept
        FROM bands b
        JOIN bucket_min m USING (band_id, band_hash)
        GROUP BY b.doc_id
    """


@query("dedup_minhash_keep_first", oracle=_keep_first_sql(), tags=("dedup", "minhash", "lsh"))
def dedup_minhash_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-output LSH dedup — the 100 TB shape.

    ``dedup_minhash_lsh_pairs`` materializes every candidate pair, which
    is inherently quadratic inside hot buckets (this corpus has ~2k-doc
    buckets → ~13M pairs at sf0.1). Production dedup doesn't need the
    pairs: per bucket keep the MIN doc_id as representative, then per
    doc take the min representative across its bands. Output is one row
    per document — two groupBys and a band-keyed join, no pair
    explosion. (One-pass bucket-min, not full connected components:
    transitive chains longer than one hop keep their own bucket rep —
    the standard first-sweep; iterate to a fixpoint for full CC.)"""
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text")
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    bucket_min = bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("rep")
    )
    return (
        bands.join(bucket_min, ["band_id", "band_hash"])
        .groupBy("doc_id")
        .agg(F.min("rep").alias("rep"))
        .select("doc_id", "rep", (F.col("rep") == F.col("doc_id")).alias("is_kept"))
    )


CC_MAX_ITERS = 20


def _lsh_band_table(d: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH bucket membership — the edge
    surrogate both CC queries propagate labels through."""
    sig = minhash_signature(d, "doc_id", "text")
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


def _cc_min_label(bands: DataFrame) -> DataFrame:
    """Iterated min-label propagation over the bucket graph to fixpoint
    (pointer jumping): one graph hop per round, two keyed shuffles per
    round, localCheckpoint to cut lineage. Returns (doc_id, component)."""
    bands = bands.localCheckpoint()  # reused every round
    reps = bands.groupBy("doc_id").agg(F.min("doc_id").alias("rep")).localCheckpoint()
    for _ in range(CC_MAX_ITERS):
        bucket_rep = (
            bands.join(reps, "doc_id")
            .groupBy("band_id", "band_hash")
            .agg(F.min("rep").alias("b_rep"))
        )
        proposed = (
            bands.join(bucket_rep, ["band_id", "band_hash"])
            .groupBy("doc_id")
            .agg(F.min("b_rep").alias("p_rep"))
        )
        merged = reps.join(proposed, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("rep"), F.coalesce("p_rep", F.col("rep"))).alias("new_rep"),
            "rep",
        )
        changed = merged.filter(F.col("new_rep") != F.col("rep")).count()
        reps = merged.select("doc_id", F.col("new_rep").alias("rep")).localCheckpoint()
        if changed == 0:
            break
    return reps.select("doc_id", F.col("rep").alias("component"))


@query("dedup_connected_components", oracle=None, tags=("dedup", "minhash", "lsh", "iterative"))
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transitive dedup: connected components over the LSH bucket
    graph by iterated min-label propagation (pointer jumping).

    ``dedup_minhash_keep_first`` is one sweep — a doc chained to its
    component's minimum only through other docs' buckets keeps a
    non-minimal rep. Here labels iterate THROUGH THE BUCKET GRAPH until
    fixpoint: each round, every bucket takes the min rep of its member
    docs, then every doc takes the min over its buckets (and its own
    rep). Label flows one graph hop per round → O(diameter) rounds,
    each two keyed shuffles (bucket, then doc) — the standard
    label-propagation CC pattern (iterative, hence rows-only: SQL can't
    express the loop).

    The loop is driver-side CONTROL only (a count per round); all DATA
    movement stays distributed. Each round materializes via localCheckpoint
    to cut the growing lineage — at 100 TB, unbounded lineage re-execution
    is the classic iterative-algorithm failure mode.
    """
    d = load_table(spark, sf_dir, "documents")
    return _cc_min_label(_lsh_band_table(d))


INCR_SPLIT_MOD = 5  # doc_id % 5 == 4 -> tonight's incoming batch


@query(
    "dedup_incremental_batch",
    oracle=f"""
        WITH corpus AS (SELECT doc_id, sha256(text) AS digest FROM documents
                        WHERE doc_id % {INCR_SPLIT_MOD} <> {INCR_SPLIT_MOD - 1}),
        batch AS (SELECT doc_id, source, sha256(text) AS digest FROM documents
                  WHERE doc_id % {INCR_SPLIT_MOD} = {INCR_SPLIT_MOD - 1}),
        fresh AS (
            SELECT b.doc_id, b.source, b.digest FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.digest = b.digest)
            QUALIFY ROW_NUMBER() OVER (PARTITION BY b.digest
                                       ORDER BY b.doc_id) = 1
        )
        SELECT source,
               (SELECT COUNT(*) FROM batch)  AS n_batch,
               COUNT(*)                      AS n_admitted
        FROM fresh
        GROUP BY source
        ORDER BY source
    """,
    tags=("dedup", "incremental", "documents"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup — the nightly shape: admit tonight's
    batch only where its content digest is (a) absent from the standing
    corpus (left-anti join) and (b) unique within the batch itself
    (keep-first window). Stands in for the production flow where the
    corpus side is a digest-only table maintained across runs.

    Scale: the corpus side projects to the 32-byte digest before the
    join — the full text never shuffles, and the anti join is keyed on
    the digest, so nightly cost is O(batch) probe work against a
    digest index, not a corpus re-scan of raw text. With the digest
    table bucketed by digest, the anti join is shuffle-free on the
    corpus side."""
    d = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCR_SPLIT_MOD == INCR_SPLIT_MOD - 1
    corpus = d.filter(~is_batch).select(F.sha2("text", 256).alias("digest"))
    batch = d.filter(is_batch).select(
        "doc_id", "source", F.sha2("text", 256).alias("digest")
    )
    nb = batch.agg(F.count(F.lit(1)).alias("n_batch"))
    w = Window.partitionBy("digest").orderBy("doc_id")
    fresh = (
        batch.join(corpus, "digest", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        fresh.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_admitted"))
        .crossJoin(F.broadcast(nb))  # scalar attach, stays one lazy plan
        .select("source", "n_batch", "n_admitted")
        .orderBy("source")
    )


NGRAM_PRUNE_N = 8  # words per duplicated-span n-gram


@query(
    "dedup_substring_prune",
    oracle=f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                   FROM documents),
        g AS (
            SELECT doc_id, i AS pos,
                   array_to_string(words[i:i+{NGRAM_PRUNE_N - 1}], ' ') AS gram
            FROM w, UNNEST(generate_series(1, len(words) - {NGRAM_PRUNE_N - 1}))
                 AS t(i)
            WHERE len(words) >= {NGRAM_PRUNE_N}
        ),
        dup AS (SELECT gram FROM g
                GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        cov AS (
            SELECT doc_id,
                   list_distinct(flatten(list(
                       generate_series(pos, pos + {NGRAM_PRUNE_N - 1})))) AS covered
            FROM g JOIN dup USING (gram)
            GROUP BY doc_id
        ),
        cleaned AS (
            SELECT w.doc_id, words,
                   [words[i] FOR i IN generate_series(1, len(words))
                    IF NOT list_contains(COALESCE(covered, CAST([] AS BIGINT[])), i)]
                   AS clean
            FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
        )
        SELECT doc_id,
               CAST(len(words) AS BIGINT)              AS n_words,
               CAST(len(words) - len(clean) AS BIGINT) AS n_removed,
               MD5(COALESCE(array_to_string(clean, ' '), '')) AS clean_digest
        FROM cleaned
    """,
    tags=("dedup", "substring", "ngram", "documents"),
)
def dedup_substring_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (span-level) dedup: remove every word span whose
    8-gram appears in two or more distinct documents, keeping the rest
    of each document intact — the substring-granular complement of the
    doc-level MinHash/SimHash family (cf. the suffix-array dedup of
    published training-data pipelines, re-expressed relationally).

    Pipeline (all built-ins, no Python):
      1. one posexplode of word 8-grams per document;
      2. corpus-wide doc-frequency per gram (the single big shuffle,
         keyed on the gram string — at 100 TB key by a 64-bit xxhash of
         the gram so the shuffle moves 8 bytes, not text);
      3. duplicated occurrences joined back (gram-keyed equi-join),
         covered word positions accumulated per doc as one array;
      4. span removal as a pure higher-order array expression
         (``filter(words, (w, i) -> ...)``) — no second explode, no
         re-aggregation of words.

    Output is one row per document with the cleaned-text digest, so the
    oracle verifies the reconstructed text bytes, not just counts."""
    d = load_table(spark, sf_dir, "documents")
    # persist the narrow words projection: CollapseProject would inline
    # the split() into the gram lambda, re-tokenizing once per shingle
    # (O(T²) per doc — same pathology fixed in the containment join, r05)
    w = d.select("doc_id", F.split("text", " ").alias("words")).persist()
    n = NGRAM_PRUNE_N
    grams = (
        w.filter(F.size("words") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.concat_ws(" ", F.slice("words", i, n)).alias("gram"),
                    ),
                )
            ).alias("g"),
        )
        # shuffle key = 64-bit hash of the gram: the gram TEXT never
        # shuffles (8 bytes/key at 100 TB); collision odds are ~n²/2⁶⁴.
        .select("doc_id", F.col("g.pos").alias("pos"), F.xxhash64("g.gram").alias("gkey"))
    )
    dup = (
        grams.groupBy("gkey")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gkey")
    )
    cov = (
        grams.join(dup, "gkey")
        .select("doc_id", F.sequence(F.col("pos"), F.col("pos") + (n - 1)).alias("span"))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.flatten(F.collect_list("span"))).alias("covered"))
    )
    covered = F.coalesce(F.col("covered"), F.array().cast("array<bigint>"))
    clean = F.filter(
        F.col("words"), lambda x, i: ~F.array_contains(covered, (i + 1).cast("bigint"))
    )
    return (
        w.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("words").cast("bigint").alias("n_words"),
            (F.size("words") - F.size(clean)).cast("bigint").alias("n_removed"),
            F.md5(F.concat_ws(" ", clean)).alias("clean_digest"),
        )
    )


# Jaccard threshold: 0.75 is the standard near-dup bar; every planted
# near-dup pair in the corpus sits at >= 0.888 (checked at all three
# SFs), so the tighter threshold emits the SAME pairs as 0.6 did while
# prefixes shrink from ~0.4·l to ~0.25·l tokens — quadratically fewer
# candidate matches on a template-similar corpus.
PFJ_THETA = 0.75
PFJ_SHINGLE = 3       # words per shingle
# 60-bit portable shingle hash (15 hex chars of md5): join keys are
# 8-byte longs, the shingle TEXT never shuffles; collision odds at
# corpus scale are ~n²/2⁶¹ — and a collision can only matter if both
# colliding shingles land in the same compared pair.
_SQL_SHINGLE_HASH60 = "CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)"


def shingle_hash60(gram: Column) -> Column:
    return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("bigint")


@query(
    "dedup_prefix_filter_join",
    oracle=f"""
        WITH w AS (SELECT doc_id, {_SQL_TOKENS} AS words FROM documents),
        t AS (
            SELECT doc_id,
                   list_distinct([array_to_string(words[i:i+{PFJ_SHINGLE - 1}], ' ')
                                  FOR i IN generate_series(1, len(words) - {PFJ_SHINGLE - 1})])
                       AS s
            FROM w WHERE len(words) >= {PFJ_SHINGLE}
        )
        SELECT doc_a, doc_b, n_common,
               ROUND(CAST(n_common AS DOUBLE)
                     / (la + lb - n_common), 6) AS jaccard
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
                   len(a.s) AS la, len(b.s) AS lb
            FROM t a JOIN t b ON a.doc_id < b.doc_id
        )
        WHERE CAST(n_common AS DOUBLE) / (la + lb - n_common) >= {PFJ_THETA}
    """,
    tags=("dedup", "similarity-join", "prefix-filter", "documents"),
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join (Jaccard ≥ θ over word-3-shingle sets)
    via PREFIX FILTERING — the All-Pairs/PPJoin family: the scalable
    EXACT complement of the probabilistic MinHash-LSH path.

    Why it scales where the naive join doesn't: order every document's
    shingles by ascending global frequency; if two sets overlap at
    Jaccard ≥ θ they MUST share a shingle within each other's first
    L − ⌈θ·L⌉ + 1 rarest shingles, so candidate generation joins only
    those short, rare-token prefixes — the frequency ordering puts the
    least-blocking shingles in the prefix, collapsing the candidate
    count. Verification then computes the exact intersection with one
    posting join per side. The oracle is the brute-force all-pairs
    definition; at sf0.01 both isolate the 25 planted near-dup pairs.

    Shuffles: distinct shingles (doc-keyed), doc-frequency
    (shingle-keyed), candidate equi-join on the 64-bit xxhash64
    shingle key (r10 — one codegen'd hash; pair set hash-invariant),
    verify joins keyed on doc_id — all equi-joins; no cross join
    anywhere (asserted in tests/test_plans.py)."""
    d = load_table(spark, sf_dir, "documents")
    # persisted so the shingle lambda reads a materialized array
    # instead of re-running split-per-shingle (see containment note)
    w = d.select("doc_id", tokens_col(F.col("text")).alias("words")).persist()
    return prefix_filter_pairs(w, PFJ_THETA, PFJ_SHINGLE)


def prefix_filter_pairs(w: DataFrame, theta: float, n: int) -> DataFrame:
    """Core prefix-filter exact Jaccard join over any (doc_id, words)
    frame — shared by the registered query and the property tests
    (which replay it against a Python brute force on random corpora)."""
    from pyspark.sql import Window

    sh = (
        w.filter(F.size("words") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("words", i, n)),
                )
            ).alias("gram"),
        )
        # engine-side xxhash64 shingle keys (r10): the hash is INTERNAL
        # here — the oracle is the brute-force all-pairs definition over
        # shingle STRINGS and never sees a hash, and prefix filtering is
        # correct under ANY consistent global order (df, h), so the
        # emitted pair set is hash-invariant (up to ~n^2/2^64 collisions,
        # strictly better than the former 60-bit md5 slice). One
        # codegen'd hash replaces md5->hex->substr->conv per shingle —
        # the same md5-tax removal measured at ~2x on the containment
        # twin (dedup_containment_join_xxhash, r05).
        .select("doc_id", F.xxhash64(F.col("gram")).alias("h"))
        .distinct()
        # the posting table feeds FOUR consumers (sizes, doc-frequency,
        # prefix ranking, both verify sides): materialize it once
        # instead of re-running scan+explode+distinct per consumer —
        # at 100 TB this is the checkpoint/exchange-reuse decision
        .localCheckpoint(eager=False)
    )
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    doc_w = Window.partitionBy("doc_id")
    rn = F.row_number().over(doc_w.orderBy("df", "h"))
    # set size via a count window over the SAME doc partitioning the
    # ranking uses — no separate sizes aggregate, no extra join
    l_col = F.count("*").over(doc_w)
    prefix_len = (F.col("l") - F.ceil(F.lit(theta) * F.col("l")) + 1)
    prefix = (
        sh.join(dfreq, "h")
        .withColumn("l", l_col)
        .withColumn("rn", rn)
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "h", "l", "rn")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # POSITIONAL FILTER (PPJoin): a prefix match at frequency-ranks
    # (i, j) bounds the achievable overlap by
    #   min(i-1, j-1) + 1 + min(la-i, lb-j)
    # (tokens ranked before the match can contribute at most the
    # shorter prefix, the match itself 1, the suffixes at most the
    # shorter remainder — the ordering is the same global frequency
    # order on both sides, so ranks are comparable). Jaccard ≥ θ needs
    # overlap ≥ ⌈θ/(1+θ)·(la+lb)⌉; pairs whose TIGHTEST bound (min
    # over shared prefix tokens) misses it never reach the verify
    # joins. Same shuffle as the old pair-distinct — the groupBy
    # replaces it — but with measurably fewer verify-join probes
    # (asserted in tests/test_plans.py).
    ub = (
        F.least(F.col("a.rn") - 1, F.col("b.rn") - 1)
        + 1
        + F.least(
            F.col("la") - F.col("a.rn"), F.col("lb") - F.col("b.rn")
        )
    )
    alpha = F.ceil(
        F.lit(theta / (1.0 + theta)) * (F.col("la") + F.col("lb"))
    )
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.l").alias("la"),
            F.col("b.l").alias("lb"),
            ub.alias("ub"),
        )
        # length filter: |B| ∈ [θ|A|, |A|/θ] (symmetric, pair unordered)
        .filter(
            (F.col("lb") >= F.ceil(F.lit(theta) * F.col("la")))
            & (F.col("la") >= F.ceil(F.lit(theta) * F.col("lb")))
        )
        .groupBy("doc_a", "doc_b", "la", "lb")
        .agg(F.min("ub").alias("ub"))
        .filter(F.col("ub") >= alpha)
        .drop("ub")
    )
    pa = sh.select(F.col("doc_id").alias("doc_a"), "h")
    pb = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "la", "lb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("la") + F.col("lb") - F.col("n_common")
    )
    return inter.filter(jac >= theta).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.round(jac, 6).alias("jaccard"),
    )


CC_ORACLE_CAP = 600  # doc slice for the cross-engine-verified CC variant


def _cc_oracle_sql() -> str:
    band_edges = " UNION ALL ".join(
        "SELECT a.doc_id AS s, b.doc_id AS t FROM sig a JOIN sig b ON "
        + " AND ".join(
            f"a.m{b * LSH_ROWS + r} = b.m{b * LSH_ROWS + r}"
            for r in range(LSH_ROWS)
        )
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH RECURSIVE sig AS (
            {_minhash_sql(f"(SELECT * FROM documents WHERE doc_id < {CC_ORACLE_CAP})")}
        ),
        e AS (SELECT DISTINCT s, t FROM ({band_edges})),
        reach(s, t) AS (
            SELECT doc_id, doc_id FROM sig
            UNION
            SELECT r.s, e.t FROM reach r JOIN e ON e.s = r.t
        )
        SELECT s AS doc_id, MIN(t) AS component FROM reach GROUP BY s
    """


@query(
    "dedup_cc_transitive_oracle",
    oracle=_cc_oracle_sql(),
    tags=("dedup", "minhash", "lsh", "iterative", "connected-components"),
)
def dedup_cc_transitive_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-verified connected components: the SAME iterated
    min-label propagation as ``dedup_connected_components``, run on a
    fixed doc slice and checked against an INDEPENDENT formulation —
    DuckDB computes the components by recursive-CTE transitive closure
    over the identical (portable md5 minhash) LSH bucket graph. The
    fixpoint label (min doc id reachable) is unique whatever the
    iteration order, which is what makes an iterative distributed
    algorithm hash-comparable across engines at all.

    The slice cap exists only because the ORACLE's closure
    materializes O(sum k^2) reach pairs per component — the Spark side
    stays the O(diameter)-round label propagation that scales; the
    full-corpus production form is the rows-only query above."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < CC_ORACLE_CAP
    )
    return _cc_min_label(_lsh_band_table(d))


_RECALL_CAP = 300  # fixed doc sample for the quality gate
_RECALL_TAU_NUM, _RECALL_TAU_DEN = 9, 10  # tau = 0.9, compared in integers


def _lsh_recall_sql() -> str:
    inner = f"(SELECT * FROM documents WHERE doc_id < {_RECALL_CAP})"
    return f"""
        WITH cand AS ({_lsh_pairs_sql(inner)}),
        sets AS (
            SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok
                  FROM documents WHERE doc_id < {_RECALL_CAP})
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM sets a JOIN sets b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        truth AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = inter.id_a
            JOIN sizes sb ON sb.doc_id = inter.id_b
            WHERE {_RECALL_TAU_DEN} * i >= {_RECALL_TAU_NUM} * (sa.sz + sb.sz - i)
        ),
        hit AS (
            SELECT COUNT(*) AS n_hit
            FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
        )
        SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM cand)  AS n_candidates,
               n_hit,
               ROUND(n_hit * 1.0 / NULLIF((SELECT COUNT(*) FROM truth), 0), 4)
                   AS recall,
               ROUND(n_hit * 1.0 / NULLIF((SELECT COUNT(*) FROM cand), 0), 4)
                   AS precision_tau
        FROM hit
    """


@query(
    "dedup_lsh_recall",
    oracle=_lsh_recall_sql(),
    tags=("dedup", "minhash", "lsh", "recall", "quality"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the banded-MinHash candidate generator (the
    dedup mirror of sim_ivf_recall_at_k): on a fixed doc sample, exact
    distinct-token Jaccard >= 0.9 pairs are ground truth; recall = the
    fraction the 4x4 banded LSH surfaces as candidates (theory:
    1-(1-J^4)^4 ≈ 0.99 at J = 0.9), precision_tau = the fraction of
    candidates that truly clear tau.

    Pair membership depends only on the two docs' signatures, so
    restricting to the sample BEFORE banding yields exactly the
    in-sample candidate set — the gate measures the production
    generator, not a variant. Ground truth is an inverted-index
    equi-join on tokens (sample-bounded here; at 100 TB the truth side
    stays a sampled audit — recall is always estimated on a sample, the
    LSH path itself is the linear production form). The tau comparison
    is cross-multiplied integers — no float threshold ambiguity.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < _RECALL_CAP)
    cand = lsh_candidate_pairs(minhash_signature(d, "doc_id", "text"))
    sets = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).distinct()
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sets.alias("a")
    b = sets.alias("b")
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
            F.broadcast(sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))),
            "id_b",
        )
        .where(
            _RECALL_TAU_DEN * F.col("i")
            >= _RECALL_TAU_NUM * (F.col("sz_a") + F.col("sz_b") - F.col("i"))
        )
        .select("id_a", "id_b")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_hit.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_cand))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0)), 4
            ).alias("recall"),
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_candidates"), F.lit(0)), 4
            ).alias("precision_tau"),
        )
    )


_CDC_W = 8  # rolling-gram width for boundary detection
_CDC_DIV = 32  # boundary when gram_hash % DIV == 0 -> ~32-char chunks


@query(
    "dedup_cdc_chunks",
    oracle=f"""
        WITH cuts AS (
            SELECT doc_id, i + {_CDC_W} - 1 AS e
            FROM documents,
                 UNNEST(generate_series(1, length(text) - {_CDC_W} + 1)) AS t(i)
            WHERE CAST(('0x' || substr(md5(substring(text, CAST(i AS INT),
                                       {_CDC_W})), 1, 8)) AS BIGINT)
                  % {_CDC_DIV} = 0
            UNION
            SELECT doc_id, length(text) AS e FROM documents WHERE length(text) > 0
        ),
        spans AS (
            SELECT doc_id, e,
                   COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
                       AS s
            FROM cuts
        ),
        chunks AS (
            SELECT sp.doc_id,
                   md5(substring(d.text, CAST(sp.s AS INT),
                                 CAST(sp.e - sp.s + 1 AS INT))) AS dig,
                   sp.e - sp.s + 1 AS clen
            FROM spans sp JOIN documents d ON sp.doc_id = d.doc_id
        )
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)  AS n_docs,
               COUNT(*)                                AS n_chunks,
               CAST(COUNT(DISTINCT dig) AS BIGINT)     AS n_unique_chunks,
               ROUND(1.0 - COUNT(DISTINCT dig) * 1.0 / COUNT(*), 6)
                   AS dedup_ratio,
               ROUND(SUM(clen) * 1.0 / COUNT(*), 2)    AS avg_chunk_chars
        FROM chunks
    """,
    tags=("dedup", "fingerprint", "documents", "sliding-window"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Rabin-style) + chunk-level dedup — the
    storage-dedup shape (restic/borg/LBFS): a rolling 8-gram hash cuts
    each blob where hash % 32 == 0, so chunk boundaries survive
    insertions/deletions (unlike fixed-size blocks); identical content
    anywhere in the corpus dedups at chunk granularity. Reported:
    corpus-level chunk count, unique-chunk count, dedup ratio, and
    mean chunk size.

    100 TB design: boundary detection is map-only (explode positions,
    hash, filter — no shuffle); the cut list (doc_id, end) — a few
    rows per doc, never the text — rides the doc-keyed lag window;
    chunk extraction joins the spans BACK to the blob by doc id (one
    doc-keyed equi-join) so text shuffles once, not once per
    boundary; the digest distinct-count is sketchable
    (approx_count_distinct) when exact uniqueness isn't required.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - {_CDC_W} + 1, 0)),"
                f" i -> substring(text, i, {_CDC_W}))"
            )
        ).alias("i0", "gram"),
    )
    cuts = (
        grams.where(
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint")
            % _CDC_DIV
            == 0
        )
        .select("doc_id", (F.col("i0") + _CDC_W).alias("e"))
        .union(
            d.where(F.length("text") > 0).select(
                "doc_id", F.length("text").cast("bigint").alias("e")
            )
        )
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("e")
    spans = cuts.select(
        "doc_id", "e", (F.coalesce(F.lag("e").over(w), F.lit(0)) + 1).alias("s")
    )
    chunks = spans.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.md5(
            F.expr(f"substring(text, CAST(s AS INT), CAST(e - s + 1 AS INT))")
        ).alias("dig"),
        (F.col("e") - F.col("s") + 1).alias("clen"),
    )
    return chunks.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("dig").cast("bigint").alias("n_unique_chunks"),
        F.round(
            1.0 - F.countDistinct("dig") * 1.0 / F.count(F.lit(1)), 6
        ).alias("dedup_ratio"),
        F.round(F.sum("clen") * 1.0 / F.count(F.lit(1)), 2).alias(
            "avg_chunk_chars"
        ),
    )


_WMH_K = 8  # weighted-minhash permutations (first 8 of _A/_B)


def _wminhash_sql() -> str:
    mins = ",\n               ".join(
        f"MIN((hv * {_A[j]} + {_B[j]}) % {_MERSENNE}) AS m{j}"
        for j in range(_WMH_K)
    )
    return f"""
        WITH w AS (SELECT doc_id, {_SQL_TOKENS} AS words FROM documents),
        t AS (
            SELECT doc_id, i AS pos, words[i] AS tok
            FROM w, UNNEST(generate_series(1, len(words))) AS s(i)
        ),
        o AS (
            SELECT doc_id, tok,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                      ORDER BY pos) AS occ
            FROM t
        ),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok || '#' || occ), 1, 8))
                        AS BIGINT) AS hv
            FROM o
        )
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    """


@query(
    "dedup_minhash_weighted",
    oracle=_wminhash_sql(),
    tags=("dedup", "minhash", "weighted", "documents"),
)
def dedup_minhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) MinHash: tokens are occurrence-indexed
    (tok#1, tok#2, ...) before hashing, so signature collisions
    estimate the WEIGHTED Jaccard Σmin(c_a,c_b)/Σmax(c_a,c_b) —
    exact for integer weights (Haveliwala-style expansion) — instead
    of the set resemblance of dedup_minhash_signatures. Matters for
    near-dup detection over bag-of-words docs where repetition is
    signal (boilerplate, templates, keyword stuffing).

    100 TB design: one extra doc-keyed window (occurrence rank within
    (doc, token)) over the exploded tokens, then the identical one-
    groupBy k-min aggregate; banding/keep-first downstream stages are
    unchanged. Expansion is bounded by document length — no blowup
    beyond the token explode every minhash already pays.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok"),
    )
    wo = Window.partitionBy("doc_id", "tok").orderBy("pos")
    o = t.select("doc_id", "tok", F.row_number().over(wo).alias("occ"))
    hv = o.select(
        "doc_id",
        token_hash(
            F.concat(F.col("tok"), F.lit("#"), F.col("occ").cast("string"))
        ).alias("hv"),
    )
    mins = [
        F.min((F.col("hv") * _A[j] + _B[j]) % _MERSENNE).alias(f"m{j}")
        for j in range(_WMH_K)
    ]
    return hv.groupBy("doc_id").agg(*mins)


# --- Asymmetric containment join (inclusion detection) ------------------

CONT_SHINGLE = 5       # 5-word shingles
CONT_DF_CAP = 20       # drop shingles appearing in more docs (fan-out bound)
CONT_THRESHOLD = 0.5   # max-direction containment to report


_CONTAINMENT_ORACLE = f"""
        WITH docs AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   {_SQL_SHINGLE_HASH60.replace("gram",
                       "array_to_string(toks[i:i+4], ' ')")} AS h
            FROM docs,
                 UNNEST(generate_series(1, len(toks) - {CONT_SHINGLE - 1}))
                     AS t(i)
        ),
        kept AS (
            SELECT doc_id, h FROM (
                SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df
                FROM sh
            ) WHERE df <= {CONT_DF_CAP}
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, n_common,
               ROUND(n_common * 1.0 / sa.sz, 6) AS c_ab,
               ROUND(n_common * 1.0 / sb.sz, 6) AS c_ba
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE GREATEST(n_common * 1.0 / sa.sz, n_common * 1.0 / sb.sz)
              >= {CONT_THRESHOLD!r}
    """


@query(
    "dedup_containment_join",
    oracle=_CONTAINMENT_ORACLE,
    tags=("dedup", "containment", "documents", "join"),
)
def dedup_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT join: pairs where one document's 5-word
    shingle profile is ≥50% contained in the other's — the inclusion
    detector (quotes, boilerplate wrappers, partial crawls) that
    symmetric Jaccard structurally under-scores: a 100-shingle doc
    fully embedded in a 10,000-shingle doc has Jaccard ≈ 0.01 but
    containment 1.0. Both directions are reported.

    Scale shape (the exact-set-similarity discipline of
    dedup_prefix_filter_join): shingle TEXT never shuffles — docs
    reduce to distinct 60-bit shingle hashes map-side; a document-
    frequency cap (window over the shingle key) drops promiscuous
    shingles so the token-join fan-out per shingle is ≤ cap² pairs;
    the pair intersection is ONE equi-join + count; profile sizes
    attach by two doc-keyed joins. All integer counts — the
    containment ratios divide exact integers, and the 0.5 gate
    compares identical doubles on both engines. Containment is defined
    over the CAPPED profile (stated identically in the oracle), the
    standard production semantics since uncapped high-df shingles add
    no discriminative mass.
    """
    return _containment_join_impl(spark, sf_dir, shingle_hash60)


def _containment_join_impl(spark, sf_dir, hash_fn) -> DataFrame:
    """Shared containment pipeline, parameterized by the shingle hash
    (portable md5-60bit for the oracle-paired query; engine-side
    xxhash64 for the production variant)."""
    d = load_table(spark, sf_dir, "documents")
    # PROJECT + PERSIST the token array before the shingle lambda:
    # subexpression elimination does not reach inside higher-order
    # function lambdas, so a split() referenced per element_at re-ran
    # O(shingle_len) times per shingle — O(T²) per document (measured
    # 7.5 s → 0.6 s for the sf0.1 explode, r05). The shingle is also
    # built from ONE slice() instead of 5 element_at()s, so even the
    # uncached form references the array once per shingle.
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).persist()
    tcol = F.col("toks")
    hashes = F.transform(
        F.sequence(F.lit(1), F.size(tcol) - (CONT_SHINGLE - 1)),
        lambda i: hash_fn(F.concat_ws(" ", F.slice(tcol, i, CONT_SHINGLE))),
    )
    sh = (
        base.select(
            "doc_id",
            F.explode(
                F.when(F.size(tcol) >= CONT_SHINGLE, hashes).otherwise(
                    F.array().cast("array<bigint>")
                )
            ).alias("h"),
        )
        .distinct()
        .persist()
    )
    # df-cap as AGGREGATE + semi-join, not a window: a window
    # partitioned by the (high-cardinality) shingle key sort-buffers
    # every partition (measured +8 s at sf0.1 for 250 k shingles); the
    # count-then-join form is one map-side-combined groupBy plus an
    # equi-join reusing the same hash partitioning (r05, cuts the warm
    # 10x growth from 3.7x to ~2x)
    # sh feeds the df count AND the semi-join input: persisted (r10 —
    # measured vs lazy 8.4/2.0s -> 7.1/1.8s cold/warm on the md5
    # variant; localCheckpoint helped cold but re-materialized every
    # run, persist shares the distinct (doc, h) frame across consumers)
    rare = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= CONT_DF_CAP)
        .select("h")
    )
    # the capped profile feeds THREE consumers (sizes + both join
    # sides): persist it too so the semi-join runs once
    kept = sh.join(rare, "h", "left_semi").persist()
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = kept.select(F.col("doc_id").alias("id_a"), "h")
    b = kept.select(F.col("doc_id").alias("id_b"), "h")
    pairs = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    c_ab = F.col("n_common") * 1.0 / F.col("sza")
    c_ba = F.col("n_common") * 1.0 / F.col("szb")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.greatest(c_ab, c_ba) >= CONT_THRESHOLD)
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(c_ab, 6).alias("c_ab"),
            F.round(c_ba, 6).alias("c_ba"),
        )
    )


@query(
    "dedup_containment_join_xxhash",
    # The pair set does not depend on WHICH injective shingle hash is
    # used (hashes are opaque identifiers: df-cap, profile sizes, and
    # intersections are hash-invariant up to 64-bit collisions,
    # P ≈ 1e-8 at this corpus), so the md5-formulated oracle states the
    # identical semantics and the gate verifies the equivalence.
    oracle=_CONTAINMENT_ORACLE,
    tags=("dedup", "containment", "documents", "join", "scale"),
)
def dedup_containment_join_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-side variant of ``dedup_containment_join`` (VERDICT r04
    item 4): identical plan, but shingles hash with ``xxhash64`` —
    one JVM codegen'd hash over the gram instead of md5→hex→substr→
    conv (≈5 expression nodes and a cryptographic digest per shingle).
    The md5 formulation stays on the oracle-paired query because the
    DuckDB contract needs a hash both engines can compute; at 100 TB
    you run THIS variant (the hash is ~all of the residual 4.2×
    blow-up cost measured in r04) and keep the md5 one as the
    cross-engine audit query. Result sets are identical up to 64-bit
    hash collisions (~1e-8); tests/test_relational.py pins equality."""
    return _containment_join_impl(spark, sf_dir, F.xxhash64)


# --- Quality-weighted (keep-best) LSH dedup -------------------------------

KEEP_BEST_QSCALE = 1_000_000_000_000  # key = n_chars * scale - doc_id


def _keep_best_sql() -> str:
    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        ),
        keyed AS (
            SELECT b.doc_id, b.band_id, b.band_hash,
                   d.n_chars * {KEEP_BEST_QSCALE} - b.doc_id AS qkey
            FROM bands b JOIN documents d USING (doc_id)
        ),
        bucket_best AS (
            SELECT band_id, band_hash,
                   max_by(doc_id, qkey) AS best_doc,
                   MAX(qkey) AS best_key
            FROM keyed GROUP BY 1, 2
        )
        SELECT k.doc_id,
               max_by(m.best_doc, m.best_key) AS rep,
               (max_by(m.best_doc, m.best_key) = k.doc_id) AS is_kept
        FROM keyed k
        JOIN bucket_best m USING (band_id, band_hash)
        GROUP BY k.doc_id
    """


@query(
    "dedup_minhash_keep_best",
    oracle=_keep_best_sql(),
    tags=("dedup", "minhash", "lsh", "quality"),
)
def dedup_minhash_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted linear-output LSH dedup — keep-BEST, the
    FineWeb-style production semantics: within every LSH bucket the
    survivor is the highest-QUALITY member (here n_chars, the
    longest-document heuristic; any scalar score plugs in), not the
    lowest id. A document is kept iff it is the best in EVERY bucket
    it occupies. Same two-groupBy + band-keyed-join shape as
    dedup_minhash_keep_first — still no pair explosion — with one
    extra broadcastable quality attachment.

    Determinism: the survivor choice rides ONE integer key,
    n_chars·10¹² − doc_id (monotone in (quality, −id)), so max_by has
    no tie ambiguity on either engine and the (quality desc, id asc)
    rule is stated once. The final per-doc reduction picks the
    best-quality representative across the doc's bands by the same
    key.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text")
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    keyed = bands.join(
        d.select(
            "doc_id",
            (F.col("n_chars") * KEEP_BEST_QSCALE - F.col("doc_id")).alias(
                "qkey"
            ),
        ),
        "doc_id",
    )
    bucket_best = keyed.groupBy("band_id", "band_hash").agg(
        F.max_by("doc_id", "qkey").alias("best_doc"),
        F.max("qkey").alias("best_key"),
    )
    return (
        keyed.join(bucket_best, ["band_id", "band_hash"])
        .groupBy("doc_id")
        .agg(F.max_by("best_doc", "best_key").alias("rep"))
        .select(
            "doc_id", "rep", (F.col("rep") == F.col("doc_id")).alias("is_kept")
        )
    )


# --- round-5 carrier: first-time 'simhash' window entry --------------

SIMHASH_BAND_BITS = 8   # 4 bands x 8 bits over the 32-bit fingerprint
SIMHASH_MAX_HAMMING = 8


def _simhash_band_sql() -> str:
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * SIMHASH_BAND_BITS}) & 255 AS band_val FROM sh"
        for b in range(4)
    )
    return f"""
        WITH sh AS ({_simhash_sql()}),
        bands AS (
            {unions}
        )
        SELECT id_a, id_b, hamming FROM (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id)
        WHERE hamming <= {SIMHASH_MAX_HAMMING}
    """


@query(
    "dedup_simhash_band_neighbors",
    oracle=_simhash_band_sql(),
    tags=("dedup", "simhash", "lsh", "documents"),
)
def dedup_simhash_band_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates the way a 100 TB pipeline finds
    them: band the 32-bit fingerprint into 4 bytes, equi-join on any
    agreeing band (a Hamming-≤3 pair MUST agree on ≥1 band by
    pigeonhole), then verify with an exact popcount on the survivors
    only. No pair ever forms outside a shared band bucket — the same
    no-cartesian discipline as the MinHash LSH path, but on a 4-byte
    signature instead of a 16-hash signature (cheaper at equal recall
    for small Hamming radii). Output: verified pairs with their exact
    Hamming distance (≤ 8)."""
    sh = dedup_simhash(spark, sf_dir)
    bands = None
    for b in range(4):
        part = sh.select(
            "doc_id",
            "simhash",
            F.lit(b).alias("band_id"),
            F.shiftright("simhash", b * SIMHASH_BAND_BITS).bitwiseAND(F.lit(255)).alias(
                "band_val"
            ),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, bb = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# --- round-6 carriers: first-time 'minhash' and 'simhash' entries -----

MHEST_SAMPLE_MOD = 5  # estimate on the doc_id % 5 == 0 sample
MHEST_BAND_ROWS = 4   # band-0 = permutations m0..m3


def _minhash_estimate_sql() -> str:
    band_eq = " AND ".join(f"a.m{j} = b.m{j}" for j in range(MHEST_BAND_ROWS))
    matches = " + ".join(
        f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K)
    )
    return f"""
        WITH sample_docs AS (
            SELECT * FROM documents WHERE doc_id % {MHEST_SAMPLE_MOD} = 0
        ),
        sig AS ({_minhash_sql("sample_docs")}),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(({matches}) AS DOUBLE) / {MINHASH_K} AS est_jaccard
            FROM sig a JOIN sig b ON {band_eq} AND a.doc_id < b.doc_id
        ),
        tok AS (
            SELECT DISTINCT doc_id, UNNEST({_SQL_TOKENS}) AS tok
            FROM sample_docs
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS ci
            FROM cand c
            JOIN tok ta ON ta.doc_id = c.id_a
            JOIN tok tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
            GROUP BY c.id_a, c.id_b
        )
        SELECT c.id_a, c.id_b,
               ROUND(c.est_jaccard, 4) AS est_jaccard,
               ROUND(CAST(i.ci AS DOUBLE) / (sa.n + sb.n - i.ci), 4)
                   AS exact_jaccard,
               ROUND(ABS(c.est_jaccard
                         - CAST(i.ci AS DOUBLE) / (sa.n + sb.n - i.ci)), 4)
                   AS abs_err
        FROM cand c
        JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
    """


@query(
    "dedup_minhash_jaccard_estimate",
    oracle=_minhash_estimate_sql(),
    tags=("dedup", "minhash", "similarity", "documents"),
)
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as an ESTIMATOR, not just a bucketer: for band-0
    candidate pairs, the signature-agreement rate (matches/16) against
    the EXACT token Jaccard, with the absolute estimation error — the
    calibration table that justifies a chosen (bands, rows) config.
    Candidates only ever form through the band equi-join (no all-pairs);
    the exact side attaches each sampled doc's distinct-token array
    with plain equi-joins and computes ONE array_intersect per
    candidate pair (r10 — replacing a token-keyed double join that
    pushed ~100 intermediate rows per pair; arrays are bounded by
    document length, the same bound the minhash explode pays). The
    doc_id % 5 sample is a constant FRACTION of the corpus, so the
    token-array frame is never broadcast-hinted (r11 — the r10 form
    forced F.broadcast on it, which grows linearly with the corpus and
    cannot fit at 100 TB): AQE/autoBroadcastJoinThreshold picks
    broadcast only when the runtime size actually allows it."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % MHEST_SAMPLE_MOD == 0
    )
    # the signature frame feeds BOTH sides of the band self-join and
    # the token projection feeds both intersection sides — persist each
    # so the explode+groupBy signature pass runs once, not twice
    sig = minhash_signature(d, "doc_id", "text").persist()
    a, b = sig.alias("a"), sig.alias("b")
    band_cond = (F.col("a.doc_id") < F.col("b.doc_id"))
    for j in range(MHEST_BAND_ROWS):
        band_cond = band_cond & (F.col(f"a.m{j}") == F.col(f"b.m{j}"))
    matches = sum(
        F.when(F.col(f"a.m{j}") == F.col(f"b.m{j}"), 1).otherwise(0)
        for j in range(MINHASH_K)
    )
    # cand flows straight into the broadcast verify joins below (one
    # consumer since the r10 array-intersect rewrite); materializing it
    # was measured and rejected back when it had two (localCheckpoint
    # traded warm for the disk write, persist flipped downstream join
    # strategies and nearly doubled cold).
    cand = a.join(b, band_cond).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        (matches.cast("double") / MINHASH_K).alias("est_jaccard"),
    )
    # Exact verify via per-doc DISTINCT TOKEN ARRAYS + array_intersect
    # (r10): the former formulation exploded every (doc, token) pair
    # and pushed the candidate frame through TWO token-keyed joins and
    # a pair groupBy — at sf0.1 that is ~15M intermediate rows for
    # 148k pairs. Each sampled doc's distinct tokens are bounded by
    # document length (the bound every minhash explode already pays),
    # so the token sets attach as two BROADCAST array columns and the
    # intersection is one codegen'd array_intersect per pair.
    # |array_intersect| over distinct sorted sets = the exact ci the
    # pair join counted; the ci >= 1 filter reproduces the former
    # INNER join on the intersection frame (both engines drop
    # zero-overlap collisions identically). No broadcast HINT on the
    # token-array sides (r11): doc_id % 5 samples a constant fraction,
    # not a constant size, so a forced broadcast is a linear-in-corpus
    # OOM at scale — the planner/AQE broadcasts only when the measured
    # size fits the threshold, and falls back to a shuffled join
    # otherwise (guide §3.1: broadcast only when the small side fits).
    tokarr = (
        d.select(
            "doc_id",
            F.array_sort(
                F.array_distinct(tokens_col(F.col("text")))
            ).alias("arr"),
        )
        .select("doc_id", "arr", F.size("arr").alias("n"))
        .persist()
    )
    aa = tokarr.select(
        F.col("doc_id").alias("id_a"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    bb = tokarr.select(
        F.col("doc_id").alias("id_b"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    ci = F.size(F.array_intersect("arr_a", "arr_b"))
    exact = F.col("ci").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ci")
    )
    return (
        cand.join(aa, "id_a")
        .join(bb, "id_b")
        .select("id_a", "id_b", "est_jaccard", "na", "nb", ci.alias("ci"))
        .where(F.col("ci") >= 1)
        .select(
            "id_a",
            "id_b",
            F.round("est_jaccard", 4).alias("est_jaccard"),
            F.round(exact, 4).alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 4).alias("abs_err"),
        )
    )


def _simhash_hist_sql() -> str:
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * SIMHASH_BAND_BITS}) & 255 AS band_val FROM sh"
        for b in range(4)
    )
    return f"""
        WITH sh AS ({_simhash_sql()}),
        bands AS (
            {unions}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT CAST(hamming AS BIGINT)       AS hamming,
               CAST(COUNT(*) AS BIGINT)      AS n_pairs,
               CAST(COUNT(*) FILTER (WHERE hamming <= {SIMHASH_MAX_HAMMING})
                    AS BIGINT)               AS n_within_radius
        FROM pairs GROUP BY hamming
    """


@query(
    "dedup_simhash_distance_histogram",
    oracle=_simhash_hist_sql(),
    tags=("dedup", "simhash", "report", "documents"),
)
def dedup_simhash_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-collision DISTANCE PROFILE: histogram of exact Hamming
    distances over every band-collided pair — the tuning report that
    tells you what a band config actually surfaces (mass ≤ radius =
    useful candidates; mass above = wasted verifies). Same banded
    equi-join as ``dedup_simhash_band_neighbors`` (certified r05), but
    aggregated into the knob-tuning view instead of emitting pairs, so
    the output is O(33) rows at any corpus size."""
    sh = dedup_simhash(spark, sf_dir)
    bands = None
    for b in range(4):
        part = sh.select(
            "doc_id",
            "simhash",
            F.lit(b).alias("band_id"),
            F.shiftright("simhash", b * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(255))
            .alias("band_val"),
        )
        bands = part if bands is None else bands.unionByName(part)
    a, bb = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            bb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.groupBy(F.col("hamming").cast("bigint").alias("hamming")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count(
            F.when(F.col("hamming") <= SIMHASH_MAX_HAMMING, 1)
        ).cast("bigint").alias("n_within_radius"),
    )


# --- round-7 spare carriers: minhash / simhash report shapes ----------

BWS_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows) with bands*rows = 16


def _band_sweep_sql() -> str:
    legs = []
    for bands, rows in BWS_CONFIGS:
        band_exprs = " , ".join(
            "CONCAT_WS('_', "
            + ", ".join(f"m{b * rows + r}" for r in range(rows))
            + f") AS band{b}"
            for b in range(bands)
        )
        unions = "\n                UNION ALL\n                ".join(
            f"SELECT doc_id, {b} AS band_id, band{b} AS bh FROM cfg_{bands}"
            for b in range(bands)
        )
        legs.append(f"""
        cfg_{bands} AS (SELECT doc_id, {band_exprs} FROM sig),
        bands_{bands} AS (
                {unions}
        ),
        cand_{bands} AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands_{bands} a JOIN bands_{bands} b
              ON a.band_id = b.band_id AND a.bh = b.bh
             AND a.doc_id < b.doc_id
        )""")
    selects = "\n        UNION ALL\n        ".join(
        f"SELECT {bands} AS n_bands, {rows} AS rows_per_band, "
        f"CAST((SELECT COUNT(*) FROM cand_{bands}) AS BIGINT) AS n_candidates"
        for bands, rows in BWS_CONFIGS
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),{",".join(legs)}
        {selects}
    """


@query(
    "dedup_minhash_band_sweep",
    oracle=_band_sweep_sql(),
    tags=("dedup", "minhash", "report", "documents"),
)
def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-configuration SWEEP over ONE signature pass: the same 16
    MinHash permutations grouped as 2×8, 4×4, and 8×2 bands, reporting
    each config's candidate-pair count — the (bands, rows) S-curve
    knob table (recall rises with more/shorter bands, candidate cost
    with it; the shipped 4×4 is the middle point). The signature
    aggregation runs ONCE and is persisted; each config adds only a
    band re-grouping + equi-join, so the sweep costs three bucket
    joins, never three signature passes. Candidate counts are exact
    (DISTINCT over band collisions), output is 3 rows at any SF."""
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text").persist()
    legs = []
    for bands, rows in BWS_CONFIGS:
        bdf = None
        for b in range(bands):
            part = sig.select(
                "doc_id",
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "_", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                ).alias("bh"),
            )
            bdf = part if bdf is None else bdf.unionByName(part)
        a, bb = bdf.alias("a"), bdf.alias("b")
        cand = (
            a.join(
                bb,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bh") == F.col("b.bh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id"), F.col("b.doc_id"))
            .distinct()
        )
        legs.append(
            cand.agg(
                F.lit(bands).alias("n_bands"),
                F.lit(rows).alias("rows_per_band"),
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@query(
    "dedup_simhash_bit_balance",
    oracle=f"""
        WITH sh AS ({_simhash_sql()}),
        bits AS (SELECT UNNEST(range(0, 32)) AS bit),
        tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sh)
        SELECT CAST(bits.bit AS BIGINT) AS bit,
               CAST(SUM((simhash >> bits.bit) & 1) AS BIGINT) AS n_ones,
               ROUND(SUM((simhash >> bits.bit) & 1) / MAX(tot.n), 6)
                   AS ones_ratio
        FROM sh, bits, tot
        GROUP BY bits.bit
    """,
    tags=("dedup", "simhash", "report", "documents"),
)
def dedup_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash BIT-BALANCE audit: per-bit ones-ratio across the corpus
    fingerprints — a healthy SimHash keeps every bit near 0.5 (biased
    bits carry no discriminating power and inflate band collisions;
    this is the fingerprint-quality counterpart of the collision
    profile in ``dedup_simhash_distance_histogram``). One fingerprint
    pass + a 32-way explode of BIT POSITIONS (not data): the per-bit
    counts map-side combine, output is exactly 32 rows at any SF."""
    sh = dedup_simhash(spark, sf_dir)
    bits = spark.range(32).select(F.col("id").cast("int").alias("bit"))
    tot = sh.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        sh.crossJoin(F.broadcast(bits))
        .select("bit", F.expr("(simhash >> bit) & 1").alias("b"))
        .groupBy(F.col("bit").cast("bigint").alias("bit"))
        .agg(F.sum("b").cast("bigint").alias("n_ones"))
        .join(F.broadcast(tot))
        .select(
            "bit",
            "n_ones",
            F.round(F.col("n_ones") / F.col("n"), 6).alias("ones_ratio"),
        )
    )


# --- round-8 spare tranche: minhash mergeability + weighted simhash ----

MHU_SAMPLE_MOD = 10  # union-sketch demo on the doc_id % 10 == 0 sample


def _minhash_union_sql() -> str:
    band_eq = " AND ".join(f"a.m{j} = b.m{j}" for j in range(4))
    union_min = ",\n               ".join(
        f"LEAST(a.m{j}, b.m{j}) AS u{j}" for j in range(MINHASH_K)
    )
    a_vs_u = " + ".join(
        f"CASE WHEN a.m{j} = u.u{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K)
    )
    return f"""
        WITH sample_docs AS (
            SELECT * FROM documents WHERE doc_id % {MHU_SAMPLE_MOD} = 0
        ),
        sig AS ({_minhash_sql("sample_docs")}),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   {union_min}
            FROM sig a JOIN sig b ON {band_eq} AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT u.id_a, u.id_b,
                   CAST(({a_vs_u}) AS DOUBLE) / {MINHASH_K} AS est_containment
            FROM pairs u JOIN sig a ON a.doc_id = u.id_a
        ),
        tok AS (
            SELECT DISTINCT doc_id, UNNEST({_SQL_TOKENS}) AS tok
            FROM sample_docs
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        uni AS (
            SELECT e.id_a, e.id_b, COUNT(DISTINCT t.tok) AS nu
            FROM est e JOIN tok t
              ON t.doc_id = e.id_a OR t.doc_id = e.id_b
            GROUP BY e.id_a, e.id_b
        )
        SELECT e.id_a, e.id_b,
               ROUND(e.est_containment, 4) AS est_containment,
               ROUND(CAST(sa.n AS DOUBLE) / u.nu, 4) AS exact_containment,
               ROUND(ABS(e.est_containment - CAST(sa.n AS DOUBLE) / u.nu), 4)
                   AS abs_err
        FROM est e
        JOIN sizes sa ON sa.doc_id = e.id_a
        JOIN uni u ON u.id_a = e.id_a AND u.id_b = e.id_b
    """


@query(
    "dedup_minhash_union_sketch",
    oracle=_minhash_union_sql(),
    tags=("dedup", "minhash", "lsh", "documents"),
)
def dedup_minhash_union_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash MERGEABILITY: the union's signature is the elementwise
    MIN of the two signatures (no re-scan of either document), and the
    agreement rate between A's signature and the merged one estimates
    |A|/|A∪B| — set CONTAINMENT from sketches alone, the property that
    lets 100 TB sketch maintenance run as a map-side-combinable MIN
    aggregation. The gate compares the sketch estimate against the
    exact token containment per band-candidate pair (estimator
    calibration sibling: ``dedup_minhash_jaccard_estimate``)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % MHU_SAMPLE_MOD == 0
    )
    sig = minhash_signature(d, "doc_id", "text").persist()
    a, b = sig.alias("a"), sig.alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id"))
    for j in range(4):
        cond = cond & (F.col(f"a.m{j}") == F.col(f"b.m{j}"))
    pairs = a.join(b, cond).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        *[
            F.least(F.col(f"a.m{j}"), F.col(f"b.m{j}")).alias(f"u{j}")
            for j in range(MINHASH_K)
        ],
    )
    agree = sum(
        F.when(F.col(f"m{j}") == F.col(f"u{j}"), 1).otherwise(0)
        for j in range(MINHASH_K)
    )
    est = pairs.join(
        sig.select(F.col("doc_id").alias("id_a"),
                   *[F.col(f"m{j}") for j in range(MINHASH_K)]),
        "id_a",
    ).select(
        "id_a", "id_b",
        (agree.cast("double") / MINHASH_K).alias("est_containment"),
    )
    tok = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).distinct().persist()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # union size via |A| + |B| - |A∩B| — the intersection equi-join is
    # linear in token postings, never |A|x|B| per pair
    ta = tok.select(F.col("doc_id").alias("id_a"), "tok")
    tb = tok.select(F.col("doc_id").alias("id_b"), "tok")
    inter = (
        est.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ci"))
    )
    exact = F.col("na").cast("double") / (
        F.col("na") + F.col("nb") - F.col("ci")
    )
    return (
        # LEFT join + coalesce(0): a band-collided pair with ZERO shared
        # tokens (4-way 32-bit minhash collision) must still emit a row —
        # the oracle's OR-join uni CTE keeps such pairs (advice r06)
        est.join(inter, ["id_a", "id_b"], "left")
        .withColumn("ci", F.coalesce(F.col("ci"), F.lit(0)))
        .join(sizes.select(F.col("doc_id").alias("id_a"),
                           F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n").alias("nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.round("est_containment", 4).alias("est_containment"),
            F.round(exact, 4).alias("exact_containment"),
            F.round(F.abs(F.col("est_containment") - exact), 4).alias(
                "abs_err"
            ),
        )
    )


# --- round-8 spare: tf-weighted SimHash ---------------------------------


def _simhash_weighted_sql() -> str:
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS b{i}"
        for i in range(32)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM toks GROUP BY doc_id, tok
        ),
        h AS (SELECT doc_id, tf, {_SQL_TOKHASH} AS hv FROM tf),
        bits AS (
            SELECT doc_id,
               {bit_sums}
            FROM h GROUP BY doc_id
        ),
        fp AS (SELECT doc_id, {recombine} AS simhash_w FROM bits),
        plain AS ({_simhash_sql()})
        SELECT fp.doc_id, fp.simhash_w,
               CAST(bit_count(xor(fp.simhash_w, plain.simhash)) AS BIGINT)
                   AS bits_moved
        FROM fp JOIN plain ON plain.doc_id = fp.doc_id
    """


@query(
    "dedup_simhash_weighted",
    oracle=_simhash_weighted_sql(),
    tags=("dedup", "simhash", "documents"),
)
def dedup_simhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-WEIGHTED SimHash (Charikar's original weighted form): each
    token votes on every bit with weight = its in-document frequency,
    so a token repeated 10× moves the fingerprint 10× harder — the
    right behavior on stutter-heavy corpora where the unweighted vote
    (each distinct occurrence counted once per appearance) lets rare
    tokens dominate. Output pairs the weighted fingerprint with its
    Hamming distance to the UNweighted one (``dedup_simhash``) — the
    bits-moved column quantifies what the weighting changes. Two
    map-side-combined aggregations (tf, then 32 weighted bit sums);
    text never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("doc_id", "tf", token_hash(F.col("tok")).alias("hv"))
    )
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright("hv", i).bitwiseAND(F.lit(1)) == 1, F.col("tf")
            ).otherwise(-F.col("tf"))
        ).alias(f"b{i}")
        for i in range(32)
    ]
    bits = tf.groupBy("doc_id").agg(*bit_aggs)
    fingerprint = None
    for i in range(32):
        term = F.when(
            F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        fingerprint = term if fingerprint is None else fingerprint + term
    fp = bits.select("doc_id", fingerprint.alias("simhash_w"))
    plain = dedup_simhash(spark, sf_dir)
    return fp.join(plain, "doc_id").select(
        "doc_id",
        "simhash_w",
        F.bit_count(
            F.col("simhash_w").bitwiseXOR(F.col("simhash"))
        ).cast("bigint").alias("bits_moved"),
    )


# ---------------------------------------------------------------------------
# dedup / minhash / lsh: band bucket-size profile (index health)
# ---------------------------------------------------------------------------


def _lsh_bucket_profile_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _minhash_sql,
    )

    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        ),
        buckets AS (
            SELECT band_id, band_hash, CAST(COUNT(*) AS BIGINT) AS s
            FROM bands GROUP BY band_id, band_hash
        )
        SELECT CAST(band_id AS BIGINT)                       AS band_id,
               CAST(COUNT(*) AS BIGINT)                      AS n_buckets,
               CAST(MAX(s) AS BIGINT)                        AS max_bucket,
               CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                             AS n_singletons,
               CAST(SUM(s * (s - 1) // 2) AS BIGINT)         AS pair_mass
        FROM buckets GROUP BY band_id
    """


@query(
    "dedup_lsh_bucket_profile",
    oracle=_lsh_bucket_profile_sql(),
    tags=("dedup", "minhash", "lsh", "report", "documents"),
)
def dedup_lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BUCKET-SIZE PROFILE per band: bucket count, largest bucket,
    singleton count, and the PAIR MASS Σ s·(s−1)/2 — the exact number
    of candidate pairs each band will emit, known BEFORE running the
    self-join. This is the go/no-go health check for an LSH index at
    100 TB: one hot bucket of size s costs s² verification, and this
    report prices it with one groupBy instead of materializing the
    pairs (candidate-count sweep across configs:
    ``dedup_minhash_band_sweep``; the pair join itself:
    ``dedup_minhash_lsh_pairs``). Signature pass runs once; the
    profile is a two-level aggregation, output = 4 rows at any SF."""
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        minhash_signature,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text")
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    buckets = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    return buckets.groupBy(F.col("band_id").cast("bigint").alias("band_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("s").cast("bigint").alias("max_bucket"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
        # Σ s(s−1) accumulated in DECIMAL(38,0) then halved with exact
        # decimal division: bigint s·(s−1) wraps silently past 3e9-doc
        # buckets and double `/2` loses exactness past 2^53, while the
        # DuckDB oracle promotes to HUGEINT (r07 advice)
        (F.sum(F.col("s").cast("decimal(38,0)") * (F.col("s") - 1)) / 2)
        .cast("bigint")
        .alias("pair_mass"),
    )


# ---------------------------------------------------------------------------
# dedup / simhash: prefix-length collision schedule
# ---------------------------------------------------------------------------

SIMHASH_PREFIX_BITS = (8, 16, 24)


def _simhash_prefix_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import _simhash_sql

    legs = "\n        UNION ALL\n        ".join(
        f"""SELECT {bits} AS prefix_bits,
                   simhash >> {32 - bits} AS bucket
            FROM sh"""
        for bits in SIMHASH_PREFIX_BITS
    )
    return f"""
        WITH sh AS ({_simhash_sql()}),
        pb AS (
        {legs}
        ),
        buckets AS (
            SELECT prefix_bits, bucket, CAST(COUNT(*) AS BIGINT) AS s
            FROM pb GROUP BY prefix_bits, bucket
        )
        SELECT CAST(prefix_bits AS BIGINT)            AS prefix_bits,
               CAST(COUNT(*) AS BIGINT)               AS n_buckets,
               CAST(MAX(s) AS BIGINT)                 AS max_bucket,
               CAST(SUM(s * (s - 1) // 2) AS BIGINT)  AS pair_mass
        FROM buckets GROUP BY prefix_bits
    """


@query(
    "dedup_simhash_prefix_schedule",
    oracle=_simhash_prefix_sql(),
    tags=("dedup", "simhash", "report", "documents"),
)
def dedup_simhash_prefix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash PREFIX-COLLAPSE schedule: bucket statistics (count,
    largest, candidate pair mass) at 8/16/24-bit fingerprint prefixes
    — the tuning table for prefix-blocked near-dup search (longer
    prefix → fewer, cleaner candidates but lower recall for distant
    bit flips; Manku et al.'s permuted-table design picks prefixes off
    exactly this curve). One fingerprint pass; each prefix length is a
    shift + groupBy over the SAME 1-row-per-doc frame (the 3-way
    explode multiplies fingerprints, never documents' text); output =
    3 rows at any SF."""
    from big_data_audio_classification_spark.operators.dedup import dedup_simhash

    # no persist: the 3 legs each re-derive the 1-row-per-doc
    # fingerprint frame (cheap), and a persisted frame would pin
    # executor storage for the rest of a long gate/bench session
    sh = dedup_simhash(spark, sf_dir)
    legs = [
        sh.select(
            F.lit(bits).alias("prefix_bits"),
            F.shiftright(F.col("simhash"), 32 - bits).alias("bucket"),
        )
        for bits in SIMHASH_PREFIX_BITS
    ]
    pb = legs[0]
    for leg in legs[1:]:
        pb = pb.unionByName(leg)
    buckets = pb.groupBy("prefix_bits", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    return buckets.groupBy(
        F.col("prefix_bits").cast("bigint").alias("prefix_bits")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("s").cast("bigint").alias("max_bucket"),
        # same exact DECIMAL(38,0) pair-mass idiom as
        # dedup_lsh_bucket_profile (r07 advice)
        (F.sum(F.col("s").cast("decimal(38,0)") * (F.col("s") - 1)) / 2)
        .cast("bigint")
        .alias("pair_mass"),
    )


# ---------------------------------------------------------------------------
# minhash: signature-based containment estimate vs exact containment
# ---------------------------------------------------------------------------

MHC_SAMPLE_MOD = 25  # estimate checked on doc pairs (i, i+1), i % 25 == 0


def _mh_containment_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        MINHASH_K,
        _minhash_sql,
    )

    agree = " + ".join(
        f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END" for j in range(MINHASH_K)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        toks AS (
            SELECT doc_id,
                   list_distinct(list_filter(string_split(text, ' '),
                                             t -> t <> '')) AS ts
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(({agree}) AS BIGINT) AS n_agree
            FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id % {MHC_SAMPLE_MOD} = 0
        ),
        exact AS (
            SELECT p.id_a, p.id_b, p.n_agree,
                   CAST(len(list_intersect(ta.ts, tb.ts)) AS BIGINT) AS n_inter,
                   CAST(LEAST(len(ta.ts), len(tb.ts)) AS BIGINT)     AS min_sz
            FROM pairs p
            JOIN toks ta ON ta.doc_id = p.id_a
            JOIN toks tb ON tb.doc_id = p.id_b
        )
        SELECT id_a, id_b, n_agree, n_inter, min_sz,
               ROUND(CAST(n_agree AS DOUBLE) / {MINHASH_K}, 6)
                   AS jaccard_est,
               ROUND(CAST(n_inter AS DOUBLE) / min_sz, 6)
                   AS containment_exact
        FROM exact
    """


@query(
    "dedup_minhash_containment_est",
    oracle=_mh_containment_sql(),
    tags=("dedup", "minhash", "documents"),
)
def dedup_minhash_containment_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-vs-CONTAINMENT calibration on sampled adjacent pairs:
    signature agreement estimates JACCARD, but near-dup policy often
    wants CONTAINMENT (|A∩B|/min — a short doc embedded in a long one
    scores high containment, low Jaccard); this query reports both on
    the same pairs so the gap is measured, not assumed (the tuning
    sibling of ``dedup_minhash_jaccard_estimate``, r06 green; the
    production containment engine is ``dedup_containment_join``).
    Signatures come from the one shared pass; exact sets only for the
    sampled pairs (doc_id % 25 == 0 with its successor) — the verify
    side stays O(sample), integers + two single divisions."""
    from big_data_audio_classification_spark.operators.dedup import (
        MINHASH_K,
        minhash_signature,
        tokens_col,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text")
    a = sig.alias("a")
    b = sig.alias("b")
    agree = None
    for j in range(MINHASH_K):
        t = F.when(F.col(f"a.m{j}") == F.col(f"b.m{j}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") % MHC_SAMPLE_MOD == 0)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            agree.cast("bigint").alias("n_agree"),
        )
    )
    toks = d.select(
        "doc_id", F.array_distinct(tokens_col(F.col("text"))).alias("ts")
    )
    ta, tb = toks.alias("ta"), toks.alias("tb")
    exact = (
        pairs.join(ta, F.col("ta.doc_id") == F.col("id_a"))
        .join(tb, F.col("tb.doc_id") == F.col("id_b"))
        .select(
            "id_a", "id_b", "n_agree",
            F.size(F.array_intersect(F.col("ta.ts"), F.col("tb.ts")))
            .cast("bigint")
            .alias("n_inter"),
            F.least(F.size("ta.ts"), F.size("tb.ts"))
            .cast("bigint")
            .alias("min_sz"),
        )
    )
    return exact.select(
        "id_a", "id_b", "n_agree", "n_inter", "min_sz",
        F.round(F.col("n_agree").cast("double") / MINHASH_K, 6).alias(
            "jaccard_est"
        ),
        F.round(F.col("n_inter").cast("double") / F.col("min_sz"), 6).alias(
            "containment_exact"
        ),
    )


# ---------------------------------------------------------------------------
# lsh: candidate-pair multiplicity profile (how many bands agree)
# ---------------------------------------------------------------------------


def _lsh_multiplicity_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _minhash_sql,
    )

    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        ),
        hits AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS n_bands_agree
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT n_bands_agree,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM hits GROUP BY n_bands_agree
    """


@query(
    "dedup_lsh_band_multiplicity",
    oracle=_lsh_multiplicity_sql(),
    tags=("dedup", "lsh", "report", "documents"),
)
def dedup_lsh_band_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BAND-MULTIPLICITY profile: candidate pairs histogrammed by
    HOW MANY of the 4 bands they collide in — multiplicity ≈ 4 means
    near-identical signatures (true dups), multiplicity 1 is the
    S-curve's noisy tail; the distribution tells you whether a
    keep-first pass can trust single-band hits or must verify
    (bucket-size pricing: ``dedup_lsh_bucket_profile``; config sweep:
    ``dedup_minhash_band_sweep``). One signature pass, one band
    equi-join, pair multiplicity via count — output ≤ 4 rows."""
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        minhash_signature,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text")
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hits = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_agree"))
    )
    return hits.groupBy("n_bands_agree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# simhash: leave-one-token-out sensitivity
# ---------------------------------------------------------------------------

SHS_SAMPLE_MOD = 10  # sensitivity computed for doc_id % 10 == 0


def _simhash_sensitivity_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        _SQL_TOKHASH,
        _SQL_TOKENS,
    )

    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    recombine = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    drop_sums = ",\n               ".join(
        f"""SUM(CASE WHEN rn = 1 THEN 0
                WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"""
        for i in range(32)
    )
    return f"""
        WITH docs AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % {SHS_SAMPLE_MOD} = 0
        ),
        toks AS (
            SELECT doc_id,
                   UNNEST({_SQL_TOKENS}) AS tok,
                   CAST(generate_subscripts({_SQL_TOKENS}, 1) AS BIGINT) AS rn
            FROM docs
        ),
        h AS (SELECT doc_id, rn, {_SQL_TOKHASH} AS hv FROM toks),
        full_bits AS (
            SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
        ),
        full_sh AS (SELECT doc_id, {recombine} AS sh FROM full_bits),
        drop_bits AS (
            SELECT doc_id, {drop_sums} FROM h GROUP BY doc_id
        ),
        drop_sh AS (SELECT doc_id, {recombine} AS sh FROM drop_bits)
        SELECT f.doc_id,
               CAST(bit_count(xor(f.sh, d.sh)) AS BIGINT) AS hamming_flip,
               f.sh = d.sh                                AS stable
        FROM full_sh f JOIN drop_sh d ON f.doc_id = d.doc_id
    """


@query(
    "dedup_simhash_sensitivity",
    oracle=_simhash_sensitivity_sql(),
    tags=("dedup", "simhash", "documents"),
)
def dedup_simhash_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash LEAVE-ONE-OUT sensitivity: recompute each sampled
    document's fingerprint with its FIRST token removed and report the
    Hamming flip — the stability property the whole near-dup scheme
    rests on (one edited token should flip few bits; a fingerprint
    that churns under single-token edits can't block near-dups).
    Both fingerprints come from ONE token-hash pass (the dropped
    token is masked in the aggregate, not re-tokenized); position
    comes from ``generate_subscripts``, and the flip count is pure
    integer popcount (balance: ``dedup_simhash_bit_balance``;
    collision schedule: ``dedup_simhash_prefix_schedule``)."""
    from big_data_audio_classification_spark.operators.dedup import (
        token_hash,
        tokens_col,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SHS_SAMPLE_MOD == 0
    )
    toks = d.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok"),
    )
    h = toks.select(
        "doc_id",
        (F.col("pos") + 1).alias("rn"),
        token_hash(F.col("tok")).alias("hv"),
    )

    def sh_from(bits_df: DataFrame) -> DataFrame:
        rec = None
        for i in range(32):
            t = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(0)
            rec = t if rec is None else rec + t
        return bits_df.select("doc_id", rec.alias("sh"))

    full_bits = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("hv", i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(32)
        ]
    )
    drop_bits = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("rn") == 1, 0)
                .when(F.shiftright("hv", i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(32)
        ]
    )
    f_sh = sh_from(full_bits).alias("f")
    d_sh = sh_from(drop_bits).alias("d")
    return f_sh.join(d_sh, F.col("f.doc_id") == F.col("d.doc_id")).select(
        F.col("f.doc_id").alias("doc_id"),
        F.bit_count(F.col("f.sh").bitwiseXOR(F.col("d.sh")))
        .cast("bigint")
        .alias("hamming_flip"),
        (F.col("f.sh") == F.col("d.sh")).alias("stable"),
    )


# ---------------------------------------------------------------------------
# dedup/minhash: one-permutation hashing sparsity census
# ---------------------------------------------------------------------------

OPH_BUCKETS = 16
OPH_RANGE = 4_294_967_296 // OPH_BUCKETS  # 2^32 split into 16 equal ranges


@query(
    "dedup_minhash_oneperm_census",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hv
            FROM toks
        ),
        filled AS (
            SELECT doc_id, hv // {OPH_RANGE} AS bucket, MIN(hv) AS mn
            FROM h GROUP BY doc_id, hv // {OPH_RANGE}
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT)        AS n_filled,
               CAST(MIN(bucket) AS BIGINT)     AS first_filled,
               CAST(MAX(bucket) AS BIGINT)     AS last_filled,
               CAST(MIN(mn) AS BIGINT)         AS global_min_hash
        FROM filled GROUP BY doc_id
    """,
    tags=("dedup", "minhash", "documents"),
)
def dedup_minhash_oneperm_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PERMUTATION HASHING sparsity census (Li/Owen/Zhang): instead
    of k independent permutations, hash each token ONCE and split the
    32-bit hash space into 16 equal ranges — the per-range minimum is
    the OPH signature, k× cheaper than classic MinHash (which this repo
    uses elsewhere: ``minhash_signature``). OPH's known failure mode is
    EMPTY ranges on short documents (undefined signature slots that
    densification must fill); this census measures exactly that — per
    doc, how many of the 16 ranges are filled, the filled span, and the
    global min (= slot of the densification anchor). All integers (hash
    range split by integer division). One token pass + one two-level
    groupBy; no shuffle carries text. At 100 TB this decides OPH-vs-
    classic before committing a signature format."""
    from big_data_audio_classification_spark.operators.dedup import (
        token_hash,
        tokens_col,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    h = toks.select("doc_id", token_hash(F.col("tok")).alias("hv"))
    filled = h.groupBy(
        "doc_id", F.expr(f"hv DIV {OPH_RANGE}").alias("bucket")
    ).agg(F.min("hv").alias("mn"))
    return filled.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_filled"),
        F.min("bucket").cast("bigint").alias("first_filled"),
        F.max("bucket").cast("bigint").alias("last_filled"),
        F.min("mn").cast("bigint").alias("global_min_hash"),
    )


# ---------------------------------------------------------------------------
# dedup/lsh: the S-curve — empirical vs theoretical band-collision rate
# ---------------------------------------------------------------------------

# r11 (VERDICT r10 item 7): the S-curve diagnostic's cost is its
# SAMPLED PAIR MASS, and mod-5 priced it as the most expensive bench
# query (10.5 s in the contended driver run). Calibration quality
# depends on pairs RETAINED, not corpus coverage — mod-10 keeps
# thousands of positive-Jaccard pairs per decile at sf0.1 (ample for a
# 10-point curve) at ~quarter the pair mass. The oracle is generated
# from this SAME constant, so both engines state the identical sample
# and the gate re-certifies the changed result set (RECERTIFY r11).
AMP_SAMPLE_MOD = 10


def _amp_curve_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _minhash_sql,
    )

    band_or = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{b * LSH_ROWS + r} = b.m{b * LSH_ROWS + r}"
            for r in range(LSH_ROWS)
        )
        + ")"
        for b in range(LSH_BANDS)
    )
    inner = f"(SELECT * FROM documents WHERE doc_id % {AMP_SAMPLE_MOD} = 0)"
    theory = (
        f"ROUND(1.0 - POWER(1.0 - POWER((jbin + 0.5) / 10.0, {LSH_ROWS}),"
        f" {LSH_BANDS}), 6)"
    )
    return f"""
        WITH sig AS ({_minhash_sql(inner)}),
        tok AS (
            SELECT DISTINCT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents WHERE doc_id % {AMP_SAMPLE_MOD} = 0
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ci
            FROM tok a JOIN tok b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT i.id_a, i.id_b,
                   LEAST((10 * i.ci) // (sa.n + sb.n - i.ci), 9) AS jbin,
                   ({band_or}) AS collided
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            JOIN sig a ON a.doc_id = i.id_a
            JOIN sig b ON b.doc_id = i.id_b
        )
        SELECT CAST(jbin AS BIGINT)                       AS jbin,
               CAST(COUNT(*) AS BIGINT)                   AS n_pairs,
               CAST(SUM(CASE WHEN collided THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_collided,
               ROUND(CAST(SUM(CASE WHEN collided THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6)       AS empirical_rate,
               {theory}                                   AS theoretical_rate
        FROM pairs GROUP BY jbin
    """


@query(
    "dedup_lsh_amplification_curve",
    oracle=_amp_curve_sql(),
    tags=("dedup", "lsh", "minhash", "report", "documents"),
)
def dedup_lsh_amplification_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-CURVE, measured: for every positive-Jaccard pair in
    the doc_id%5 sample, compare the EMPIRICAL band-collision rate per
    exact-Jaccard decile against the THEORETICAL amplification
    1−(1−J^r)^b at the bin midpoint — the calibration plot (Leskovec/
    Rajaraman/Ullman fig.) that justifies a (bands=4, rows=4) config
    before running it on 100 TB. Pair formation is the
    token-intersection equi-join (never all-pairs; zero-overlap pairs
    have J=0 and theoretical rate 0 — excluded by construction, stated
    identically in both engines) — its cost is the SAMPLED PAIR MASS,
    which is corpus-dependent: under the template-similar blow-up
    model it grows ~K² (measured r09: 34x wall at K=10 on a flat
    10-row output, scripts/blowup_headline.py → PLANS.md). That is
    inherent to any calibration that verifies pairs; the knob is
    AMP_SAMPLE_MOD — calibration quality depends on pairs RETAINED,
    not corpus coverage, so a pair-mass-heavy corpus raises the
    modulus (the bucket profile's pair_mass column prices this before
    running, same discipline as the r06 CONT_DF_CAP knob). The
    Jaccard decile is computed in EXACT integers ((10·ci) // union,
    clamped to 9); collision truth is a pure integer signature
    comparison; the only floats are the two final rate expressions,
    written identically in both dialects. Output ≤ 10 rows at any
    SF."""
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        minhash_signature,
        tokens_col,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % AMP_SAMPLE_MOD == 0
    )
    sig = minhash_signature(d, "doc_id", "text").persist()
    tok = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .distinct()
        .persist()
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = tok.select(F.col("doc_id").alias("id_a"), "tok")
    tb = tok.select(F.col("doc_id").alias("id_b"), "tok")
    inter = (
        ta.join(tb, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ci"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    siga = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{j}").alias(f"am{j}") for j in range(16)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{j}").alias(f"bm{j}") for j in range(16)],
    )
    collided = F.lit(False)
    for b in range(LSH_BANDS):
        agree = F.lit(True)
        for r in range(LSH_ROWS):
            j = b * LSH_ROWS + r
            agree = agree & (F.col(f"am{j}") == F.col(f"bm{j}"))
        collided = collided | agree
    jbin = F.least(
        F.expr("(10 * ci) DIV (na + nb - ci)"), F.lit(9)
    ).cast("bigint")
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .join(siga, "id_a")
        .join(sigb, "id_b")
        .select(jbin.alias("jbin"), collided.alias("collided"))
    )
    n_coll = F.sum(F.when(F.col("collided"), 1).otherwise(0))
    theory = F.round(
        1.0
        - F.pow(
            1.0 - F.pow((F.col("jbin") + 0.5) / 10.0, float(LSH_ROWS)),
            float(LSH_BANDS),
        ),
        6,
    )
    return pairs.groupBy("jbin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        n_coll.cast("bigint").alias("n_collided"),
        F.round(n_coll.cast("double") / F.count(F.lit(1)), 6).alias(
            "empirical_rate"
        ),
    ).select("jbin", "n_pairs", "n_collided", "empirical_rate",
             theory.alias("theoretical_rate"))


# ---------------------------------------------------------------------------
# dedup/simhash: Manku rotation-table profile
# ---------------------------------------------------------------------------

ROT_SHIFTS = (0, 8, 16, 24)
ROT_PREFIX_BITS = 12
_U32 = 4_294_967_295


def _simhash_rotation_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import _simhash_sql

    legs = "\n        UNION ALL\n        ".join(
        f"""SELECT {r} AS rotation,
                   ((simhash << {r}) | (simhash >> {32 - r})) & {_U32}
                       AS rotated
            FROM sh"""
        if r else
        """SELECT 0 AS rotation, simhash AS rotated FROM sh"""
        for r in ROT_SHIFTS
    )
    return f"""
        WITH sh AS ({_simhash_sql()}),
        rot AS (
        {legs}
        ),
        buckets AS (
            SELECT rotation, rotated >> {32 - ROT_PREFIX_BITS} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS s
            FROM rot GROUP BY rotation, rotated >> {32 - ROT_PREFIX_BITS}
        )
        SELECT CAST(rotation AS BIGINT)           AS rotation,
               CAST(COUNT(*) AS BIGINT)           AS n_buckets,
               CAST(MAX(s) AS BIGINT)             AS max_bucket,
               CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS pair_mass
        FROM buckets GROUP BY rotation
    """


@query(
    "dedup_simhash_rotation_profile",
    oracle=_simhash_rotation_sql(),
    tags=("dedup", "simhash", "report", "documents"),
)
def dedup_simhash_rotation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANKU ROTATION TABLES, profiled: the Manku-Jain-Sarma near-dup
    design keeps T rotated copies of every fingerprint so a 12-bit
    PREFIX probe catches bit flips in any region; this report prices
    each rotation's table (bucket count, hottest bucket, candidate
    pair mass) before building it. Rotation is exact integer bit
    arithmetic — ((f << r) | (f >> 32−r)) & 0xFFFFFFFF — identical in both
    dialects; pair mass in DECIMAL(38,0)-safe range here (12-bit
    prefixes bound s), stated with the same Σ s(s−1)/2 idiom. One
    fingerprint pass; 4 shift+groupBy legs over the 1-row-per-doc
    frame; output = 4 rows at any SF (prefix-length sweep sibling:
    ``dedup_simhash_prefix_schedule``)."""
    from big_data_audio_classification_spark.operators.dedup import dedup_simhash

    sh = dedup_simhash(spark, sf_dir)
    legs = []
    for r in ROT_SHIFTS:
        if r == 0:
            rotated = F.col("simhash")
        else:
            rotated = (
                F.shiftleft("simhash", r)
                .bitwiseOR(F.shiftright("simhash", 32 - r))
                .bitwiseAND(F.lit(_U32))
            )
        legs.append(
            sh.select(
                F.lit(r).alias("rotation"),
                rotated.alias("rotated"),
            )
        )
    rot = legs[0]
    for leg in legs[1:]:
        rot = rot.unionByName(leg)
    buckets = rot.groupBy(
        "rotation",
        F.shiftright("rotated", 32 - ROT_PREFIX_BITS).alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("s"))
    return buckets.groupBy(
        F.col("rotation").cast("bigint").alias("rotation")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("s").cast("bigint").alias("max_bucket"),
        (F.sum(F.col("s").cast("decimal(38,0)") * (F.col("s") - 1)) / 2)
        .cast("bigint")
        .alias("pair_mass"),
    )


# ---------------------------------------------------------------------------
# lsh: bucket-occupancy entropy per band (index-health dashboard)
# ---------------------------------------------------------------------------


def _lsh_entropy_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _minhash_sql,
    )

    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        ),
        buckets AS (
            SELECT band_id, band_hash, CAST(COUNT(*) AS BIGINT) AS n
            FROM bands GROUP BY band_id, band_hash
        ),
        probs AS (
            SELECT band_id, band_hash, n,
                   CAST(n AS DOUBLE)
                   / SUM(n) OVER (PARTITION BY band_id) AS p
            FROM buckets
        ),
        tot AS (
            SELECT band_id,
                   CAST(SUM(n) AS BIGINT)      AS n_docs,
                   CAST(COUNT(*) AS BIGINT)    AS n_buckets,
                   CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) // 2
                        AS BIGINT) AS pair_mass,
                   CAST(MAX(n) AS BIGINT)      AS max_bucket,
                   list_sum(list(-p * LOG2(p) ORDER BY band_hash)) AS h
            FROM probs GROUP BY band_id
        )
        SELECT CAST(band_id AS BIGINT) AS band_id, n_docs, n_buckets,
               pair_mass, max_bucket,
               ROUND(h, 6) + 0 AS entropy_bits
        FROM tot
    """


@query(
    "dedup_lsh_bucket_entropy",
    oracle=_lsh_entropy_sql(),
    tags=("dedup", "lsh", "minhash", "report", "documents"),
)
def dedup_lsh_bucket_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BUCKET-OCCUPANCY ENTROPY per band: Shannon entropy of the
    bucket-size distribution, bucket/max-bucket counts, and the exact
    pair mass Σ n·(n−1)/2 — the one-screen INDEX-HEALTH dashboard
    (low entropy = a few mega-buckets = quadratic verify cost coming;
    the entropy axis complements ``dedup_lsh_bucket_profile``'s size
    histogram and prices ``dedup_lsh_amplification_curve``'s workload
    BEFORE running it). Bucket sizes are exact integers; the entropy
    sum is the house SEQUENTIAL fold ORDER BY band_hash (a cross-row
    float SUM is partition-order-dependent), ``+ 0``-guarded (a
    single-bucket band has entropy exactly -0.0·log → 0). One banding
    pass + one keyed aggregate; O(bands) output rows at any corpus
    size."""
    from big_data_audio_classification_spark.operators.dedup import (
        _lsh_band_table,
    )

    d = load_table(spark, sf_dir, "documents")
    buckets = (
        _lsh_band_table(d)
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("band_id")
    p = F.col("n").cast("double") / F.sum("n").over(w)
    term = -p * F.log2(p)
    per_bucket = buckets.select(
        "band_id", "band_hash", "n", term.alias("term")
    )
    ordered_terms = F.transform(
        F.array_sort(F.collect_list(F.struct("band_hash", "term"))),
        lambda s: s["term"],
    )
    agg = per_bucket.groupBy("band_id").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        # decimal accumulator (r09 ADVICE): per-bucket n·(n−1) and its
        # sum stay int64 otherwise, wrapping silently past ~3e9-doc
        # buckets while DuckDB promotes to HUGEINT; Σ n·(n−1) is even,
        # so the decimal / 2 is exact (house idiom: stock_r7.py:912).
        (F.sum(F.col("n").cast("decimal(38,0)") * (F.col("n") - 1)) / 2)
        .cast("bigint")
        .alias("pair_mass"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.aggregate(ordered_terms, F.lit(0.0), lambda a, x: a + x).alias("h"),
    )
    return agg.select(
        F.col("band_id").cast("bigint").alias("band_id"),
        "n_docs",
        "n_buckets",
        "pair_mass",
        "max_bucket",
        F.round(F.col("h"), 6).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# simhash: multi-probe Hamming-1 neighbor census over the 16-bit prefix
# ---------------------------------------------------------------------------


def _simhash_multiprobe_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        _simhash_sql,
    )

    return f"""
        WITH fp AS ({_simhash_sql()}),
        p16 AS (SELECT doc_id, simhash >> 16 AS fp16 FROM fp),
        ks AS (SELECT UNNEST(range(16)) AS k),
        probes AS (
            SELECT doc_id, k, xor(fp16, 1 << k) AS probe FROM p16, ks
        ),
        hits AS (
            SELECT p.k, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM probes p JOIN p16 t
              ON p.probe = t.fp16 AND p.doc_id < t.doc_id
            GROUP BY p.k
        )
        SELECT CAST(ks.k AS BIGINT)      AS bit_k,
               COALESCE(hits.n_pairs, 0) AS n_pairs
        FROM ks LEFT JOIN hits ON hits.k = ks.k
    """


@query(
    "dedup_simhash_multiprobe16",
    oracle=_simhash_multiprobe_sql(),
    tags=("dedup", "simhash", "documents"),
)
def dedup_simhash_multiprobe16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE SimHash census: for each bit k of the 16-bit
    fingerprint PREFIX, count the unordered doc pairs whose prefixes
    differ in EXACTLY that bit — the probe table multi-probe LSH
    consults to decide which single-bit-flip buckets are worth
    visiting (probing bit k costs one extra equi-join and recovers
    n_pairs(k) near-misses the exact-match bucket lost). Spark
    explodes 16 XOR probes per doc and equi-joins them back against
    the prefix table — always a keyed join on the probed value, never
    an all-pairs Hamming scan; the 16-row spine LEFT JOIN pins bits
    with zero traffic to 0 rather than dropping them. Pure integers.
    At 100 TB the probe table is 16x the fingerprint table — linear —
    and the join shuffles on the 16-bit key."""
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash,
    )

    # one materialization of the fingerprint pass (r10): probes AND the
    # probe-target side both consume fp — unpersisted, the full simhash
    # computation (token explode + portable hash + 32-bit vote fold)
    # ran twice
    fp = dedup_simhash(spark, sf_dir).select(
        "doc_id", F.shiftright("simhash", 16).alias("fp16")
    ).localCheckpoint(eager=False)
    ks = spark.range(16).select(F.col("id").cast("bigint").alias("k"))
    probes = fp.crossJoin(F.broadcast(ks)).select(
        "doc_id",
        "k",
        F.expr(
            "fp16 ^ shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))"
        ).alias("probe"),
    )
    t = fp.select(F.col("doc_id").alias("tid"), F.col("fp16").alias("tfp"))
    hits = (
        probes.join(t, (probes.probe == t.tfp) & (probes.doc_id < t.tid))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    return (
        ks.join(hits, "k", "left")
        .select(
            F.col("k").alias("bit_k"),
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        )
    )


# ---------------------------------------------------------------------------
# lsh: Gini imbalance of bucket occupancy per band
# ---------------------------------------------------------------------------


def _lsh_gini_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _minhash_sql,
    )

    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        ),
        buckets AS (
            SELECT band_id, band_hash, CAST(COUNT(*) AS BIGINT) AS n
            FROM bands GROUP BY band_id, band_hash
        ),
        ranked AS (
            SELECT band_id, n,
                   CAST(ROW_NUMBER() OVER (PARTITION BY band_id
                        ORDER BY n, band_hash) AS BIGINT) AS i,
                   CAST(COUNT(*) OVER (PARTITION BY band_id) AS BIGINT) AS k
            FROM buckets
        )
        SELECT CAST(band_id AS BIGINT) AS band_id,
               CAST(MAX(k) AS BIGINT)  AS n_buckets,
               CAST(SUM(n) AS BIGINT)  AS n_docs,
               ROUND(CAST(SUM((2 * i - k - 1)
                              * CAST(n AS HUGEINT)) AS DOUBLE)
                     / (CAST(MAX(k) AS DOUBLE) * SUM(n)), 6) + 0
                   AS gini
        FROM ranked GROUP BY band_id
    """


@query(
    "dedup_lsh_bucket_gini",
    oracle=_lsh_gini_sql(),
    tags=("dedup", "lsh", "minhash", "report", "documents"),
)
def dedup_lsh_bucket_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI IMBALANCE of LSH bucket occupancy per band — the
    third axis of the index-health dashboard (entropy:
    ``dedup_lsh_bucket_entropy``; size histogram:
    ``dedup_lsh_bucket_profile``): G = Σ(2i−k−1)·x_i / (k·Σx) over
    bucket sizes ranked ascending, the standard concentration score —
    0 = uniform buckets, →1 = one mega-bucket owns the band (the
    quadratic-verify disaster the entropy view flags logarithmically;
    Gini is the linear early-warning). The numerator is EXACT — rank ×
    size products accumulate in DECIMAL(38,0)/HUGEINT (2i·n wraps
    int64 past ~2e9 buckets × big n; equal sizes make the sum
    rank-tie invariant, so the band_hash tiebreak only pins engine
    determinism) — and Gini is ONE float division, ``+ 0``-guarded
    (a perfectly uniform band lands exactly on 0). 100 TB: banding +
    one keyed count + one rank window per band; output is |bands|
    rows."""
    from big_data_audio_classification_spark.operators.dedup import (
        _lsh_band_table,
    )

    d = load_table(spark, sf_dir, "documents")
    buckets = (
        _lsh_band_table(d)
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("band_id").orderBy("n", "band_hash")
    ranked = buckets.select(
        "band_id",
        "n",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy("band_id"))
        .cast("bigint")
        .alias("k"),
    )
    num = F.sum(
        ((2 * F.col("i") - F.col("k") - 1)).cast("decimal(38,0)")
        * F.col("n").cast("decimal(38,0)")
    )
    agg = ranked.groupBy("band_id").agg(
        F.max("k").cast("bigint").alias("n_buckets"),
        F.sum("n").cast("bigint").alias("n_docs"),
        num.alias("num"),
    )
    return agg.select(
        F.col("band_id").cast("bigint").alias("band_id"),
        "n_buckets",
        "n_docs",
        F.round(
            F.col("num").cast("double")
            / (F.col("n_buckets").cast("double") * F.col("n_docs")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# simhash: popcount-parity x top-nibble census
# ---------------------------------------------------------------------------


def _simhash_parity_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        _simhash_sql,
    )

    return f"""
        WITH fp AS ({_simhash_sql()})
        SELECT CAST(bit_count(simhash) % 2 AS BIGINT) AS parity,
               CAST(simhash >> 28 AS BIGINT)          AS top_nibble,
               CAST(COUNT(*) AS BIGINT)               AS n_docs,
               CAST(MIN(doc_id) AS BIGINT)            AS min_doc_id
        FROM fp GROUP BY parity, top_nibble
    """


@query(
    "dedup_simhash_parity_planes",
    oracle=_simhash_parity_sql(),
    tags=("dedup", "simhash", "documents"),
)
def dedup_simhash_parity_planes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMHASH PARITY-PLANE census: the (popcount parity, top nibble)
    contingency of the 32-bit fingerprints — the cheap structural
    audit of a simhash index (a healthy Charikar fingerprint
    population splits parity ~50/50 and spreads the 16 top-nibble
    cells; a skewed plane means degenerate token weighting upstream,
    and any popcount/shift discrepancy between engines is instantly
    visible). Fingerprints from the house 32-bit SimHash; parity via
    ``bit_count % 2``, plane via ``>> 28`` — exact integers on both
    engines. Output <= 32 rows. 100 TB: rides the fingerprint
    aggregate; the census is a 32-cell map-side-combinable rollup."""
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash as _simhash_query,
    )

    fp = _simhash_query(spark, sf_dir)
    return fp.groupBy(
        (F.bit_count("simhash") % 2).cast("bigint").alias("parity"),
        F.shiftright(F.col("simhash"), 28).cast("bigint").alias("top_nibble"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# iterative -> SQL contract: bounded-round CC cluster-size histogram
# ---------------------------------------------------------------------------

CC_BOUNDED_ROUNDS = 6


def _cc_bounded_hist_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _minhash_sql,
    )

    band_exprs = ", ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM sig_bands"
        for b in range(LSH_BANDS)
    )
    rounds = []
    prev = "r0"
    for k in range(1, CC_BOUNDED_ROUNDS + 1):
        rounds.append(
            f"""b{k} AS (
            SELECT bands.band_id, bands.band_hash, MIN({prev}.rep) AS b_rep
            FROM bands JOIN {prev} ON bands.doc_id = {prev}.doc_id
            GROUP BY bands.band_id, bands.band_hash
        ),
        p{k} AS (
            SELECT bands.doc_id, MIN(b{k}.b_rep) AS p_rep
            FROM bands JOIN b{k}
              ON bands.band_id = b{k}.band_id
             AND bands.band_hash = b{k}.band_hash
            GROUP BY bands.doc_id
        ),
        r{k} AS (
            SELECT r.doc_id,
                   LEAST(r.rep, COALESCE(p{k}.p_rep, r.rep)) AS rep
            FROM {prev} r LEFT JOIN p{k} ON r.doc_id = p{k}.doc_id
        )"""
        )
        prev = f"r{k}"
    return f"""
        WITH sig AS ({_minhash_sql()}),
        sig_bands AS (SELECT doc_id, {band_exprs} FROM sig),
        bands AS (
            {unions}
        ),
        r0 AS (SELECT DISTINCT doc_id, doc_id AS rep FROM bands),
        {",".join(rounds)},
        sizes AS (
            SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM {prev} GROUP BY rep
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size
    """


@query(
    "dedup_cc_bounded_histogram",
    oracle=_cc_bounded_hist_sql(),
    tags=("dedup", "minhash", "lsh", "iterative", "report", "documents"),
)
def dedup_cc_bounded_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-CORPUS connected-components CLUSTER-SIZE HISTOGRAM under a
    BOUNDED round count — the r09-verdict item-7 conversion: the
    fixpoint CC (``dedup_connected_components``) is genuinely
    iterative and stays rows-only, but 'labels after EXACTLY K
    min-label rounds' is a deterministic, data-independent recursion
    depth — so it unrolls into K chained CTE pairs (bucket-min then
    doc-min per round, the identical semantics of ``_cc_min_label``)
    and becomes SQL-oracled over the WHOLE corpus, no doc-slice cap.
    (The capped sibling ``dedup_cc_transitive_oracle`` cross-checks
    true transitive closure but cannot scale its O(Σk²) reach
    materialization: the corpus carries a giant component — 3884 of
    5000 docs at sf0.1 — so full closure is quadratic by measurement,
    while K bounded rounds are 2K keyed aggregates regardless of
    component shape.) The histogram face (cluster_size → n_clusters,
    n_docs) is the dedup-planning artifact anyway: it prices the
    keep-first sweep and flags the giant component. All exact
    integers. 100 TB: 2K shuffles over the (doc, band) edge table —
    the bounded-sweep production pattern when full convergence isn't
    worth the tail rounds."""
    from big_data_audio_classification_spark.operators.dedup import (
        _lsh_band_table,
    )

    d = load_table(spark, sf_dir, "documents")
    bands = _lsh_band_table(d).localCheckpoint(eager=True)
    reps = bands.select("doc_id").distinct().select(
        "doc_id", F.col("doc_id").alias("rep")
    )
    for _ in range(CC_BOUNDED_ROUNDS):
        bucket_rep = (
            bands.join(reps, "doc_id")
            .groupBy("band_id", "band_hash")
            .agg(F.min("rep").alias("b_rep"))
        )
        # The oracle's LEFT JOIN + LEAST(rep, COALESCE(p_rep, rep)) is
        # the IDENTITY here, dropped on the Spark side (r10): every doc
        # in reps came from bands (r0 = distinct doc_id FROM bands), so
        # the proposed min always exists, and a doc's own bucket
        # contains its own rep, so p_rep = min over its buckets'
        # mins <= rep — LEAST always resolves to p_rep. One join per
        # round removed; labels after round k are bit-identical.
        reps = (
            bands.join(bucket_rep, ["band_id", "band_hash"])
            .groupBy("doc_id")
            .agg(F.min("b_rep").alias("rep"))
            .localCheckpoint(eager=True)
        )
    sizes = reps.groupBy("rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("bigint")
        .alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# minhash: per-permutation signature stability profile
# ---------------------------------------------------------------------------


def _sig_stability_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        MINHASH_K,
        _minhash_sql,
    )

    unions = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {j} AS slot, m{j} AS mh FROM sig"
        for j in range(MINHASH_K)
    )
    return f"""
        WITH sig AS ({_minhash_sql()}),
        slots AS (
            {unions}
        )
        SELECT CAST(slot AS BIGINT) AS slot,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT mh) AS BIGINT) AS n_distinct,
               CAST(MIN(mh) AS BIGINT) AS min_hash,
               ROUND(1.0 - CAST(COUNT(DISTINCT mh) AS DOUBLE) / COUNT(*), 6)
                   + 0 AS collision_rate
        FROM slots GROUP BY slot
    """


@query(
    "dedup_lsh_signature_stability",
    oracle=_sig_stability_sql(),
    tags=("dedup", "minhash", "lsh", "report", "documents"),
)
def dedup_lsh_signature_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PERMUTATION MinHash SLOT profile — the signature-quality
    audit below the band level (bands aggregate 4 slots each; a
    single DEGENERATE permutation — low distinct count, high
    collision rate — poisons every band it feeds, and this view
    localizes which): per slot j, distinct minhash values, the
    minimum (a constant-leaning slot shows a repeated min), and the
    collision rate 1 − distinct/docs, ``+ 0``-guarded (an
    all-distinct slot rounds to exactly 0). The unpivot runs through
    ``stack`` on Spark vs a UNION ALL spine on DuckDB — independent
    reshapes of the same signature table. 100 TB: rides the
    signature aggregate; the profile is k×|docs| rows shuffled once,
    16 rows out."""
    from big_data_audio_classification_spark.operators.dedup import (
        MINHASH_K,
        minhash_signature,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text")
    stack_expr = ", ".join(f"{j}L, m{j}" for j in range(MINHASH_K))
    slots = sig.select(
        "doc_id",
        F.expr(f"stack({MINHASH_K}, {stack_expr}) AS (slot, mh)"),
    ).select("slot", "mh")
    return slots.groupBy(F.col("slot").cast("bigint").alias("slot")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("mh").cast("bigint").alias("n_distinct"),
        F.min("mh").cast("bigint").alias("min_hash"),
        F.round(
            1.0 - F.countDistinct("mh").cast("double") / F.count(F.lit(1)), 6
        ).alias("collision_rate"),
    )


# ---------------------------------------------------------------------------
# simhash: hi/lo halfword popcount correlation
# ---------------------------------------------------------------------------


def _halfword_corr_sql() -> str:
    from big_data_audio_classification_spark.operators.dedup import (
        _simhash_sql,
    )

    return f"""
        WITH fp AS ({_simhash_sql()}),
        xy AS (
            -- DuckDB bit_count returns TINYINT: 10*13 overflows INT8,
            -- so widen before any product (r10 find)
            SELECT CAST(bit_count(simhash >> 16) AS BIGINT) AS x,
                   CAST(bit_count(simhash & 65535) AS BIGINT) AS y
            FROM fp
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM xy
        )
        SELECT n, sx, sy,
               CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                     AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
                    THEN ROUND((CAST(n AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy)
                               / (SQRT(CAST(n AS DOUBLE) * sxx
                                       - CAST(sx AS DOUBLE) * sx)
                                  * SQRT(CAST(n AS DOUBLE) * syy
                                         - CAST(sy AS DOUBLE) * sy)),
                               6) + 0
                    ELSE NULL END AS pearson_r
        FROM m
    """


@query(
    "dedup_simhash_halfword_correlation",
    oracle=_halfword_corr_sql(),
    tags=("dedup", "simhash", "correlation", "documents"),
)
def dedup_simhash_halfword_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HI/LO HALFWORD POPCOUNT CORRELATION of the simhash population —
    the independence check banded lookup schemes silently assume (a
    prefix schedule that probes the top 16 bits treats them as
    independent of the bottom 16; correlated halves mean correlated
    bucket misses): Pearson r between bit_count(hi16) and
    bit_count(lo16) computed ENTIRELY from exact integer moments (n,
    Σx, Σy, Σxy, Σx², Σy² — popcounts are ≤16, every moment exact in
    int64 to ~3e16 docs) with ONE fixed-order float expression at the
    end — never an engine-side corr() aggregate (cross-row float
    accumulation, the r06 class). The n·Σx² variance PRODUCTS are
    computed in DOUBLE (per-moment casts) — in int64 they wrap at
    ~1.9e8 docs, and asymmetrically (Spark wraps silently, DuckDB
    raises); identical double arithmetic is deterministic
    cross-engine at any n. Degenerate variance degrades to
    NULL on both engines; ``+ 0`` guards the uncorrelated-rounds-to-
    zero case. 100 TB: one map-side-combinable moment aggregate; one
    output row."""
    from big_data_audio_classification_spark.operators.dedup import (
        dedup_simhash as _simhash_query,
    )

    fp = _simhash_query(spark, sf_dir)
    xy = fp.select(
        F.bit_count(F.shiftright("simhash", 16)).alias("x"),
        F.bit_count(F.col("simhash").bitwiseAND(F.lit(65535))).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    vx = nd * F.col("sxx") - sxd * F.col("sx")
    vy = nd * F.col("syy") - syd * F.col("sy")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    return m.select(
        "n",
        "sx",
        "sy",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("pearson_r"),
    )
