"""Text-analysis operators for LLM-data pipelines (mandated surface,
SURVEY §2.B): token counting, quality scoring, language-ID heuristic,
document fingerprinting (rolling hash).

All pure built-in expressions (split/filter/transform/aggregate) —
JVM-side, codegen'd, zero Python in the hot path; every operator has an
exact DuckDB oracle.

Scale notes: each operator is embarrassingly parallel per document (no
shuffle at all until a final aggregate); the only shuffles in this file
are the small groupBy rollups. A 100 TB corpus streams through map
stages with whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from big_data_audio_classification_spark.operators.dedup import (
    _SQL_TOKENS,
    shingle_hash60,
    token_hash,
    tokens_col,
)
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker lexicons for the language-ID heuristic. The corpus is synthetic
# (shared vocabulary), so the discriminative power is illustrative — the
# operator shape (per-language marker scores → deterministic argmax) is
# what an n-gram language identifier does at scale.
LANG_MARKERS = {
    "en": ("the", "a", "value", "data"),
    "es": ("order", "part", "row"),
    "fr": ("query", "window", "merge"),
    "de": ("spark", "stream", "batch"),
    "zh": ("table", "scan", "hash"),
}


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


@query(
    "text_token_stats",
    oracle=f"""
        SELECT doc_id,
               len(toks)                                   AS n_tokens,
               len(list_distinct(toks))                    AS n_distinct,
               ROUND(list_sum(list_transform(toks, t -> CAST(length(t) AS DOUBLE)))
                     / len(toks), 6)                       AS avg_token_len,
               n_chars
        FROM (SELECT doc_id, n_chars, {_SQL_TOKENS} AS toks FROM documents)
        WHERE len(toks) > 0
    """,
    tags=("text", "documents"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization, distinct-token count,
    mean token length."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    avg_len = (
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / F.size(toks)
    )
    return (
        d.select(
            "doc_id",
            toks.alias("toks"),
            "n_chars",
        )
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.size(F.array_distinct("toks")).alias("n_distinct"),
            F.round(
                F.aggregate(
                    F.col("toks"), F.lit(0.0), lambda a, t: a + F.length(t).cast("double")
                )
                / F.size("toks"),
                6,
            ).alias("avg_token_len"),
            "n_chars",
        )
    )


@query(
    "text_quality_score",
    oracle=f"""
        WITH t AS (SELECT doc_id, n_chars, {_SQL_TOKENS} AS toks FROM documents),
        m AS (
            SELECT doc_id, n_chars,
                   len(toks) AS n_tokens,
                   len(list_filter(toks, t -> t IN {STOPWORDS!r})) AS n_stop,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
            FROM t WHERE len(toks) > 0
        )
        SELECT doc_id,
               ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
               ROUND(ttr, 6)                               AS type_token_ratio,
               ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 64, 1.0) * 0.4
                     + LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 5, 1.0) * 0.3
                     + ttr * 0.3, 6)                       AS quality
        FROM m
    """,
    tags=("text", "documents"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length score + stopword-density score
    + type/token ratio, combined with fixed weights (the shape of a
    C4/Gopher-style quality filter)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", "n_chars", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    n_tokens = F.size("toks").cast("double")
    n_stop = _count_in(F.col("toks"), STOPWORDS).cast("double")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    quality = (
        F.least(n_tokens / 64, F.lit(1.0)) * 0.4
        + F.least(n_stop / n_tokens * 5, F.lit(1.0)) * 0.3
        + ttr * 0.3
    )
    return base.select(
        "doc_id",
        F.round(n_stop / n_tokens, 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def _langid_sql() -> str:
    scores = ",\n                   ".join(
        f"len(list_filter(toks, t -> t IN {LANG_MARKERS[lang]!r})) AS s_{lang}"
        for lang in sorted(LANG_MARKERS)
    )
    langs = sorted(LANG_MARKERS)
    greatest = "GREATEST(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{la} = {greatest} THEN '{la}'" for la in langs
    ) + " END"
    return f"""
        WITH t AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
        s AS (
            SELECT doc_id, lang,
                   {scores}
            FROM t WHERE len(toks) > 0
        )
        SELECT doc_id, lang AS lang_true, {case} AS lang_pred
        FROM s
    """


@query("text_langid_heuristic", oracle=_langid_sql(), tags=("text", "langid"))
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID: per-language marker counts →
    deterministic argmax (ties broken by alphabetical language order,
    identical in the oracle's CASE ordering)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", F.col("lang").alias("lang_true"), toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    langs = sorted(LANG_MARKERS)
    scored = base.select(
        "doc_id",
        "lang_true",
        *[_count_in(F.col("toks"), LANG_MARKERS[la]).alias(f"s_{la}") for la in langs],
    )
    best = F.greatest(*[F.col(f"s_{la}") for la in langs])
    # WHEN chain in alphabetical order — earliest language wins ties,
    # matching the oracle's CASE ordering.
    pred = None
    for la in langs:
        if pred is None:
            pred = F.when(F.col(f"s_{la}") == best, la)
        else:
            pred = pred.when(F.col(f"s_{la}") == best, la)
    return scored.select("doc_id", "lang_true", pred.alias("lang_pred"))


@query(
    "text_fingerprint_rolling",
    oracle=f"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform({_SQL_TOKENS},
                           tok -> CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT))),
                   (acc, h) -> (acc * 31 + h) % 2147483647
               ) AS fingerprint
        FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint over the
    token stream: acc ← (acc·31 + h(tok)) mod p. Distinguishes
    reorderings that set-based (MinHash) fingerprints collapse."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    fp = F.aggregate(
        F.transform(toks, token_hash),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % 2147483647,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "text_lang_source_rollup",
    oracle="""
        SELECT lang, source,
               COUNT(*)                 AS n_docs,
               ROUND(AVG(n_chars), 4)   AS avg_chars,
               MIN(n_chars)             AS min_chars,
               MAX(n_chars)             AS max_chars
        FROM documents
        GROUP BY ROLLUP (lang, source)
    """,
    tags=("text", "aggregate"),
)
def text_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (lang, source)."""
    d = load_table(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


TFIDF_DOCS = 100  # score terms for this doc subset; df/N over the full corpus
TFIDF_TOP = 3


@query(
    "text_tfidf_top_terms",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM toks WHERE doc_id < {TFIDF_DOCS}
            GROUP BY doc_id, tok
        ),
        df AS (
            SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, tok,
               ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        FROM tf JOIN df USING (tok) CROSS JOIN n
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY doc_id
            ORDER BY ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) DESC, tok
        ) <= {TFIDF_TOP}
    """,
    tags=("text", "tfidf", "documents"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF as pure DataFrame aggs: tf per (doc, term), df per term
    over the full corpus, score = tf·ln(N/df), top-3 terms per doc.

    Scale shape: two groupBys (term-keyed df is tiny and broadcast back
    onto tf), one scalar N broadcast, one per-doc top-k window. The
    MLlib HashingTF/IDF pair gives the same scores with hashed term ids
    when term-string fidelity isn't needed. Ranking uses the ROUNDED
    score (+ term tiebreak) so cross-engine double ULPs can't flip the
    top-k boundary."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok")
    )
    tf = (
        toks.filter(F.col("doc_id") < TFIDF_DOCS)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TFIDF_TOP)
        .drop("rn")
    )


@query("text_mllib_pipeline", oracle=None, tags=("text", "mllib", "pipeline"))
def text_mllib_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib text-feature pipeline (SURVEY §2.B text table):
    RegexTokenizer → StopWordsRemover → NGram(2) → CountVectorizer.
    Per-doc output: token/bigram counts + nonzero feature count.
    Rows-only (vocabulary index order is an MLlib internal); invariants
    (nnz ≤ n_bigrams ≤ n_tokens−1) are pytest-asserted.

    Scale: every stage is a map-only transform; CountVectorizer.fit is
    one distributed term-count agg + a driver-side top-vocabSize
    selection — the only global state is the (bounded) vocabulary."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        CountVectorizer,
        NGram,
        RegexTokenizer,
        StopWordsRemover,
    )

    d = load_table(spark, sf_dir, "documents")
    pipe = Pipeline(
        stages=[
            RegexTokenizer(inputCol="text", outputCol="toks", pattern="\\s+"),
            StopWordsRemover(inputCol="toks", outputCol="kept"),
            NGram(n=2, inputCol="kept", outputCol="bigrams"),
            CountVectorizer(inputCol="bigrams", outputCol="features", vocabSize=1000),
        ]
    )
    out = pipe.fit(d).transform(d)

    # nnz of the sparse vector, JVM-side: vector_to_array densifies and a
    # higher-order aggregate counts nonzeros — keeps the engine's
    # no-Python-UDF invariant (the vocab is capped at 1000, so the dense
    # form is bounded).
    from pyspark.ml.functions import vector_to_array

    nnz = F.aggregate(
        vector_to_array("features"),
        F.lit(0),
        lambda acc, x: acc + F.when(x != 0.0, 1).otherwise(0),
    )
    return out.select(
        "doc_id",
        F.size("kept").alias("n_tokens"),
        F.size("bigrams").alias("n_bigrams"),
        nnz.cast("int").alias("nnz"),
    )


W2V_MIN_COUNT = 2
W2V_DIM = 16


@query(
    "text_word2vec",
    oracle=f"""
        WITH tok AS (
            SELECT UNNEST(list_filter(string_split(text, ' '),
                          t -> t <> '')) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok FROM tok GROUP BY tok
            HAVING COUNT(*) >= {W2V_MIN_COUNT}
        )
        SELECT CAST((SELECT COUNT(*) FROM vocab) AS BIGINT)    AS n_vocab,
               {W2V_DIM}                                       AS vec_dim,
               CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
               TRUE                                            AS norms_positive
    """,
    tags=("text", "mllib", "embedding", "quality"),
)
def text_word2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2Vec (seeded) as a CONTRACT GATE (r06 rows-only conversion):
    the learned model's vocabulary size must equal the oracle's exact
    count of tokens with corpus frequency ≥ minCount (MLlib's documented
    vocabulary rule), the vector table must be exactly 16-wide, doc
    scoring must cover every document, and every scored source must
    have positive mean vector norm. SGD weights stay rows-only by
    nature; the vocab/coverage/shape contract is what IS cross-engine
    checkable. Neighbor-overlap vs the deterministic PPMI ranking
    (``text_ppmi_neighbors``) was MEASURED and REJECTED as a gate:
    avg overlap@5 ≈ 0.16-0.20 at all three SFs ≈ the 5/|vocab| ≈ 0.17
    chance level on this template corpus — a floor there would certify
    noise (same rejection class as the PCA eigen-oracle)."""
    from pyspark.ml.feature import Word2Vec

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.filter(F.split("text", " "), lambda t: t != "").alias("toks"),
    )
    model = Word2Vec(
        vectorSize=W2V_DIM, minCount=W2V_MIN_COUNT, seed=42,
        inputCol="toks", outputCol="docvec", maxIter=1, numPartitions=1,
    ).fit(d)
    out = model.transform(d)
    from pyspark.ml.functions import vector_to_array

    vecs = model.getVectors()  # (word, vector) — one row per vocab term
    n_vocab = vecs.agg(F.count(F.lit(1)).cast("bigint").alias("n_vocab"))
    vec_dim = vecs.select(
        F.size(vector_to_array("vector")).alias("vec_dim")
    ).distinct()
    sq = F.aggregate(
        vector_to_array("docvec"), F.lit(0.0), lambda a, x: a + x * x
    )
    per_source = out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_src"),
        F.avg(F.sqrt(sq)).alias("avg_norm"),
    )
    cover = per_source.agg(
        F.sum("n_docs_src").cast("bigint").alias("n_docs"),
        (F.min("avg_norm") > 0).alias("norms_positive"),
    )
    return (
        n_vocab.crossJoin(F.broadcast(vec_dim))
        .crossJoin(F.broadcast(cover))
        .select("n_vocab", "vec_dim", "n_docs", "norms_positive")
    )


SAMPLE_FRACTIONS = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 1.0, "zh": 0.1}


_FRAC_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_FRACTIONS.items()
) + " ELSE 0.0 END"


@query(
    "text_stratified_sample",
    oracle=f"""
        WITH r AS (
            SELECT lang,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS n_total
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) FILTER (WHERE rn <= CEIL(({_FRAC_CASE}) * n_total))
                    AS BIGINT) AS n_sampled,
               CAST(MAX(n_total) AS BIGINT) AS n_total
        FROM r GROUP BY lang
    """,
    tags=("text", "sampling", "documents"),
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-language) downsampling — the corpus-rebalancing
    move every training-data pipeline makes (cap the dominant language,
    keep the rare ones) — as an EXACT hash-ranked quota: rank rows
    inside each stratum by md5(doc_id) and keep the top
    ceil(fraction × stratum size). Unlike seeded Bernoulli sampling
    (``sampleBy``, engine-RNG-specific — still exercised in
    tests/test_curation.py), the hash rank gives exact per-stratum
    quotas, is reproducible across engines/re-runs/repartitions, and is
    therefore SQL-oracle-checkable (converted from rows-only, round 5).
    Scale: one window over (lang) — a single keyed shuffle; at 100 TB
    swap the full sort for the two-pass quantile-threshold variant
    (rank ≈ hash < threshold) the same way FineWeb does."""
    d = load_table(spark, sf_dir, "documents")
    frac = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in SAMPLE_FRACTIONS.items()
        ],
        F.lit(0.0),
    )
    w = Window.partitionBy("lang")
    r = d.select(
        "lang",
        F.row_number()
        .over(w.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_total"),
        frac.alias("frac"),
    )
    return r.groupBy("lang").agg(
        F.count(F.when(F.col("rn") <= F.ceil(F.col("frac") * F.col("n_total")), 1))
        .cast("bigint")
        .alias("n_sampled"),
        F.max("n_total").cast("bigint").alias("n_total"),
    )


FREQ_SUPPORT = 0.005  # heavy-hitter threshold: freq > support × n_tokens
MG_CAPACITY = 400     # Misra-Gries counters per partition (≥ 2/support)


@query(
    "text_freq_items",
    oracle=f"""
        WITH t AS (
            SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM documents
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tok FROM t)
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM t GROUP BY tok
        HAVING COUNT(*) > {FREQ_SUPPORT} * (SELECT n_tok FROM n)
    """,
    tags=("text", "sketch", "documents", "pandas", "mapInPandas"),
)
def text_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens (freq > 0.5% of the token stream) via
    the two-pass Misra-Gries pattern: pass 1 runs a fixed-memory MG
    sketch per partition (mapInPandas, capacity 400 counters) whose
    survivors are a GUARANTEED superset of every globally-frequent
    token (pigeonhole: an item frequent overall is frequent in ≥1
    partition); pass 2 exactly counts ONLY the (tiny, broadcast)
    candidate set and applies the true threshold. Output is therefore
    exact and deterministic regardless of sketch internals — which is
    what makes it SQL-oracle-checkable (converted from the rows-only
    ``freqItems`` form, round 5; ``df.stat.freqItems`` itself stays
    exercised in tests/test_stats.py).
    Scale: pass 1 is map-only fixed memory; pass 2 scans once more but
    counts only candidates (broadcast semi-join prune) — the standard
    two-pass exact heavy-hitters plan for 100 TB streams."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("text")

    def mg_partial(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                for tok in text.split(" "):
                    if not tok:
                        continue
                    if tok in counters:
                        counters[tok] += 1
                    elif len(counters) < MG_CAPACITY:
                        counters[tok] = 1
                    else:  # decrement-all step: evict zeroed counters
                        dead = []
                        for k in counters:
                            counters[k] -= 1
                            if counters[k] == 0:
                                dead.append(k)
                        for k in dead:
                            del counters[k]
        yield pd.DataFrame({"tok": list(counters.keys())})

    candidates = d.mapInPandas(mg_partial, schema="tok string").distinct()
    toks = d.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok")
    )
    n_tok = toks.count()
    return (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .filter(F.col("freq") > FREQ_SUPPORT * n_tok)
    )


CHUNK_SIZE = 32  # tokens per chunk
CHUNK_STEP = 24  # stride (8-token overlap between consecutive chunks)


@query(
    "text_chunk_sliding",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        chunks AS (
            SELECT doc_id, s,
                   t[s + 1 : s + {CHUNK_SIZE}] AS chunk_toks
            FROM toks,
                 unnest(generate_series(0, len(t) - 1, {CHUNK_STEP})) AS u(s)
        )
        SELECT doc_id,
               CAST(s / {CHUNK_STEP} AS BIGINT) AS chunk_idx,
               CAST(len(chunk_toks) AS INTEGER) AS n_tokens,
               md5(array_to_string(chunk_toks, ' ')) AS chunk_md5
        FROM chunks
        ORDER BY doc_id, chunk_idx
    """,
    tags=("text", "chunking", "documents"),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — split every document into
    overlapping {CHUNK_SIZE}-token windows at stride {CHUNK_STEP} (the
    context-window prep step for embedding / training pipelines),
    emitting per-chunk token counts and a content digest.

    Map-only at any scale: tokenize, generate the per-doc start offsets
    with ``sequence`` (no UDF, no driver loop), explode, slice — zero
    shuffles before the output sort; chunk count scales with corpus
    token count, never quadratically."""
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STEP))
    chunk = F.slice(F.col("t"), F.col("s") + 1, CHUNK_SIZE)
    return (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.explode(starts).alias("s"), "t")
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STEP).cast("long").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\d{3}-\d{3}-\d{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
        WITH synth AS (
            -- corpus text is synthetic word-soup with no PII, so each doc
            -- gets a deterministic injected email + phone to scrub
            SELECT doc_id, source,
                   text || ' reach user' || doc_id ||
                   '@example.com or 555-' ||
                   lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
            FROM documents
        ),
        scrubbed AS (
            SELECT doc_id, source,
                   len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_email,
                   len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phone,
                   regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                                  '{PII_PHONE}', '<PHONE>', 'g') AS clean
            FROM synth
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_email) AS BIGINT) AS n_emails,
               CAST(SUM(n_phone) AS BIGINT) AS n_phones,
               CAST(SUM(CASE WHEN clean NOT LIKE '%@%' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_fully_clean,
               md5(string_agg(clean, '' ORDER BY doc_id)) AS corpus_md5
        FROM scrubbed
        GROUP BY source
        ORDER BY source
    """,
    tags=("text", "pii", "quality", "documents"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: detect and redact email addresses and phone
    numbers with JVM-side regexes, reporting per-source redaction
    counts, a residual-PII check, and a digest of the scrubbed corpus
    (proves byte-identical redaction against the oracle). The corpus is
    synthetic (no real PII), so each doc gets a deterministic injected
    email+phone first — the scrub path itself is the operator.

    Map-only scan + one tiny agg shuffle; regexp_replace/extract_all run
    in whole-stage codegen, no Python in the loop."""
    d = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(synth, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
        F.lit(PII_PHONE),
        F.lit("<PHONE>"),
    )
    s = d.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all(synth, F.lit(PII_EMAIL), F.lit(0))).alias(
            "n_email"
        ),
        F.size(F.regexp_extract_all(synth, F.lit(PII_PHONE), F.lit(0))).alias(
            "n_phone"
        ),
        scrub.alias("clean"),
    )
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("n_emails"),
            F.sum("n_phone").alias("n_phones"),
            F.sum((~F.col("clean").contains("@")).cast("long")).alias(
                "n_fully_clean"
            ),
            F.md5(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "clean"))
                    ),
                    F.lit(""),
                    lambda acc, x: F.concat(acc, x["clean"]),
                )
            ).alias("corpus_md5"),
        )
        .orderBy("source")
    )


# GPT-2-style pretokenization, ASCII-simplified for cross-engine regex
# parity (Java regex on Spark, RE2 on DuckDB): letter runs, digit runs,
# punctuation runs — each optionally absorbing one leading space.
BPE_PAT = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@query(
    "text_bpe_token_count",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_PAT}')) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS BIGINT) AS n_ws_tokens,
               ROUND(CAST(n_chars AS DOUBLE)
                     / len(regexp_extract_all(text, '{BPE_PAT}')), 6)
                   AS chars_per_token
        FROM documents
        WHERE length(trim(text)) > 0
    """,
    tags=("text", "tokenizer", "documents"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the mandated second tokenizer): a GPT-2-
    style pretokenization regex — letter/digit/punctuation runs with an
    optional leading space — as the budget-accurate proxy for real BPE
    token counts (true BPE merges only ever SPLIT these pretokens
    further, so this lower-bounds subword counts with the right shape).
    Emitted next to the whitespace count and the chars-per-token ratio
    (the tokenizer-fertility signal used to spot unnatural text).
    Pure JVM regex, map-only."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    bpe = F.regexp_extract_all("text", F.lit(BPE_PAT), 0)
    ws = F.filter(F.split("text", " "), lambda t: t != "")
    return d.select(
        "doc_id",
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.round(F.col("n_chars").cast("double") / F.size(bpe), 6).alias(
            "chars_per_token"
        ),
    )


@query(
    "text_readability_scores",
    oracle="""
        WITH m AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split(text, ' '),
                            t -> t <> '')) AS DOUBLE) AS words,
                   CAST(GREATEST(len(list_filter(
                            regexp_split_to_array(text, '[.!?]+'),
                            s -> trim(s) <> '')), 1) AS DOUBLE) AS sents,
                   CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                        AS DOUBLE) AS syls
            FROM documents
        )
        SELECT doc_id, lang,
               CAST(words AS BIGINT) AS n_words,
               CAST(sents AS BIGINT) AS n_sentences,
               CAST(syls AS BIGINT) AS n_syllables,
               ROUND(0.39 * (words / sents) + 11.8 * (syls / words)
                     - 15.59, 4) AS fk_grade,
               ROUND(206.835 - 1.015 * (words / sents)
                     - 84.6 * (syls / words), 4) AS flesch_ease
        FROM m
        WHERE words > 0
    """,
    tags=("text", "quality", "readability", "documents"),
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade + Flesch reading-ease per document from
    three regex counts (words, sentence splits, vowel-group syllable
    proxy) — the classic readability features a text-quality filter
    adds next to the Gopher signals (text_quality_score,
    text_repetition_signals).

    Row-local codegen regex work, no shuffle at all; both engines
    state the identical counting rules, so scores hash-match
    exactly."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast(
        "double"
    )
    sents = F.greatest(
        F.size(
            F.filter(
                F.split("text", "[.!?]+"), lambda s: F.trim(s) != ""
            )
        ),
        F.lit(1),
    ).cast("double")
    syls = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("double")
    m = d.select(
        "doc_id",
        "lang",
        words.alias("words"),
        sents.alias("sents"),
        syls.alias("syls"),
    ).where(F.col("words") > 0)
    return m.select(
        "doc_id",
        "lang",
        F.col("words").cast("bigint").alias("n_words"),
        F.col("sents").cast("bigint").alias("n_sentences"),
        F.col("syls").cast("bigint").alias("n_syllables"),
        F.round(
            0.39 * (F.col("words") / F.col("sents"))
            + 11.8 * (F.col("syls") / F.col("words"))
            - 15.59,
            4,
        ).alias("fk_grade"),
        F.round(
            206.835
            - 1.015 * (F.col("words") / F.col("sents"))
            - 84.6 * (F.col("syls") / F.col("words")),
            4,
        ).alias("flesch_ease"),
    )


ZIPF_TOP = 500  # head of the rank-frequency curve the power law is fit on


@query(
    "text_zipf_fit",
    oracle=f"""
        WITH toks AS (
            SELECT UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        c AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        top AS (SELECT tok, c FROM c ORDER BY c DESC, tok LIMIT {ZIPF_TOP}),
        r AS (
            SELECT c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
            FROM top
        ),
        v AS (SELECT COUNT(*) AS n_vocab, SUM(c) AS n_tokens FROM c)
        SELECT n_vocab, CAST(n_tokens AS BIGINT) AS n_tokens,
               COUNT(*) AS n_fit,
               ROUND(REGR_SLOPE(LN(c), LN(rnk)), 6) AS zipf_slope,
               ROUND(REGR_INTERCEPT(LN(c), LN(rnk)), 6) AS zipf_intercept,
               ROUND(REGR_R2(LN(c), LN(rnk)), 6) AS r2
        FROM r CROSS JOIN v
        GROUP BY n_vocab, n_tokens
    """,
    tags=("text", "corpus-stats", "regression", "documents"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: OLS of
    ln(frequency) on ln(rank) over the top-500 tokens (slope ≈ −1 for
    natural language; the deviation is a corpus-health diagnostic the
    curation stack reads next to the Gopher signals).

    Scale shape: one token-keyed count (map-side combined), the head
    selected by ``TakeOrderedAndProject`` on (count desc, token) — rank
    ties cannot flip cross-engine because the ordering key is unique —
    and the regression aggregates run over the 500-row head only. The
    vocabulary size/token total ride along from the same count table."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok")
    )
    c = toks.groupBy("tok").agg(F.count("*").alias("c"))
    v = c.agg(
        F.count("*").alias("n_vocab"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    top = c.orderBy(F.col("c").desc(), "tok").limit(ZIPF_TOP)
    r = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "tok"))
        .alias("rnk"),
    )
    lnc, lnr = F.log(F.col("c").cast("double")), F.log(F.col("rnk").cast("double"))
    return (
        r.crossJoin(F.broadcast(v))
        .groupBy("n_vocab", "n_tokens")
        .agg(
            F.count("*").alias("n_fit"),
            F.round(F.regr_slope(lnc, lnr), 6).alias("zipf_slope"),
            F.round(F.regr_intercept(lnc, lnr), 6).alias("zipf_intercept"),
            F.round(F.regr_r2(lnc, lnr), 6).alias("r2"),
        )
    )


_CHI2_TOPK = 3


@query(
    "text_chi2_keywords",
    oracle=f"""
        WITH toks AS (
            SELECT source, UNNEST(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS tok
            FROM documents
        ),
        ts AS (
            SELECT tok, source, COUNT(*) AS a FROM toks GROUP BY tok, source
        ),
        lev AS (
            SELECT tok, source, a,
                   CAST(SUM(a) OVER (PARTITION BY tok) AS BIGINT)    AS tot_t,
                   CAST(SUM(a) OVER (PARTITION BY source) AS BIGINT) AS tot_s,
                   CAST(SUM(a) OVER () AS BIGINT)                    AS big_n
            FROM ts
        ),
        scored AS (
            SELECT tok, source, a,
                   tot_t - a AS b, tot_s - a AS c,
                   big_n - tot_t - tot_s + a AS d,
                   ROUND(big_n
                         * POWER(a * 1.0 * (big_n - tot_t - tot_s + a)
                                 - (tot_t - a) * 1.0 * (tot_s - a), 2)
                         / (tot_t * 1.0 * (big_n - tot_t)
                            * tot_s * (big_n - tot_s)), 6) AS chi2
            FROM lev
            WHERE a * 1.0 * (big_n - tot_t - tot_s + a)
                  > (tot_t - a) * 1.0 * (tot_s - a)
        )
        SELECT source, tok, a AS n_occurrences, chi2,
               CAST(rnk AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY chi2 DESC, tok) AS rnk
              FROM scored)
        WHERE rnk <= {_CHI2_TOPK}
        ORDER BY source, rank
    """,
    tags=("text", "feature-selection", "documents", "corpus-stats"),
)
def text_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared keyword extraction: the tokens most over-represented
    in each source vs the rest of the corpus (the classic chi2 feature
    selector / distinctive-vocabulary report for corpus triage). Only
    positively associated tokens kept (ad > bc, compared BEFORE any
    float math); ranking uses the rounded statistic with a token
    tiebreak so cross-engine ordering is exact.

    100 TB design: one explode + one (token, source) count aggregate
    over the corpus; every chi2 input then comes from window sums over
    that |vocab| x |sources| frame (hundreds of rows), so the fact
    table is touched once and the statistic algebra is identical
    integer-derived doubles in both engines.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    ts = (
        d.select("source", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok", "source")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    lev = ts.select(
        "tok",
        "source",
        "a",
        F.sum("a").over(Window.partitionBy("tok")).cast("bigint").alias("tot_t"),
        F.sum("a")
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("tot_s"),
        F.sum("a").over(Window.partitionBy()).cast("bigint").alias("big_n"),
    )
    ad = F.col("a") * 1.0 * (
        F.col("big_n") - F.col("tot_t") - F.col("tot_s") + F.col("a")
    )
    bc = (F.col("tot_t") - F.col("a")) * 1.0 * (F.col("tot_s") - F.col("a"))
    chi2 = F.round(
        F.col("big_n")
        * F.pow(ad - bc, 2)
        / (
            F.col("tot_t")
            * 1.0
            * (F.col("big_n") - F.col("tot_t"))
            * F.col("tot_s")
            * (F.col("big_n") - F.col("tot_s"))
        ),
        6,
    )
    scored = lev.where(ad > bc).select(
        "source", "tok", F.col("a").alias("n_occurrences"), chi2.alias("chi2")
    )
    w = Window.partitionBy("source").orderBy(F.desc("chi2"), F.asc("tok"))
    return (
        scored.select(
            "source",
            "tok",
            "n_occurrences",
            "chi2",
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .where(F.col("rank") <= _CHI2_TOPK)
        .orderBy("source", "rank")
    )


_DELTA_TOP_WORDS = 10


@query(
    "text_burrows_delta",
    oracle=f"""
        WITH toks AS (
            SELECT source, UNNEST(list_filter(string_split(text, ' '),
                                              t -> t <> '')) AS tok
            FROM documents
        ),
        top_words AS (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
                ORDER BY c DESC, tok LIMIT {_DELTA_TOP_WORDS})
        ),
        sw AS (
            SELECT t.source, t.tok, COUNT(*) AS c
            FROM toks t JOIN top_words w ON t.tok = w.tok
            GROUP BY t.source, t.tok
        ),
        stot AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY source),
        freq AS (
            SELECT s.source, w.tok,
                   COALESCE(sw.c, 0) * 1.0 / s.n AS f
            FROM stot s CROSS JOIN top_words w
            LEFT JOIN sw ON sw.source = s.source AND sw.tok = w.tok
        ),
        z AS (
            SELECT source, tok,
                   (f - AVG(f) OVER (PARTITION BY tok))
                   / STDDEV_POP(f) OVER (PARTITION BY tok) AS zval
            FROM freq
        )
        SELECT a.source AS source_a, b.source AS source_b,
               ROUND(AVG(ABS(a.zval - b.zval)), 6) AS delta
        FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
        ORDER BY source_a, source_b
    """,
    tags=("text", "corpus-stats", "documents", "fingerprint"),
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometry: pairwise stylistic distance between
    sources as the mean absolute difference of z-scored relative
    frequencies of the corpus's most frequent words — the standard
    authorship-attribution / style-drift measure, here as a
    source-similarity matrix for corpus triage.

    100 TB design: ONE token pass builds both the global top-M word
    list (M rows) and per-(source, word) counts; everything after runs
    on the |sources| x M frame (z-scores via per-word window over
    |sources| values, pair join over a frame of dozens of rows).
    STDDEV_POP over integer-derived ratios is identical double algebra
    in both engines.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens_col(F.col("text"))).alias("tok"))
    top_words = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_DELTA_TOP_WORDS)
        .select("tok")
    )
    sw = (
        toks.join(F.broadcast(top_words), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    freq = (
        stot.crossJoin(F.broadcast(top_words))
        .join(sw, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            (F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("n")).alias("f"),
        )
    )
    wt = Window.partitionBy("tok")
    z = freq.select(
        "source",
        "tok",
        ((F.col("f") - F.avg("f").over(wt)) / F.stddev_pop("f").over(wt)).alias(
            "zval"
        ),
    )
    a = z.alias("a")
    b = z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.round(F.avg(F.abs(F.col("a.zval") - F.col("b.zval"))), 6).alias("delta"))
        .orderBy("source_a", "source_b")
    )


# --- Cross-source duplication (overlap) matrix ---------------------------

OVERLAP_SHINGLE = 5


@query(
    "text_source_overlap_matrix",
    oracle=f"""
        WITH docs AS (
            SELECT source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT source,
                   CAST(('0x' || substr(md5(array_to_string(
                       toks[i:i+{OVERLAP_SHINGLE - 1}], ' ')), 1, 15))
                       AS BIGINT) AS h
            FROM docs,
                 UNNEST(generate_series(1, len(toks)
                        - {OVERLAP_SHINGLE - 1})) AS t(i)
        ),
        sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY source),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT src_a, src_b, n_common,
               ROUND(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6)
                   AS jaccard,
               ROUND(n_common * 1.0 / LEAST(sa.sz, sb.sz), 6)
                   AS overlap_coef
        FROM inter
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b
        ORDER BY src_a, src_b
    """,
    tags=("text", "dedup", "contamination", "documents", "join"),
)
def text_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE duplication matrix: for every source pair, the
    5-word-shingle Jaccard and overlap coefficient between the two
    sources' distinct shingle sets — the corpus-level census behind
    "which feeds are re-crawling each other", run before per-document
    dedup decides what to drop (high inter-source overlap changes the
    keep-policy: dedup ACROSS sources, not just within).

    Scale shape: documents collapse to DISTINCT (source, 60-bit
    shingle hash) pairs map-side — text never shuffles, and the source
    grain means cardinality is bounded by vocabulary, not corpus. The
    pair intersection is one hash-keyed equi-join (fan-out bounded by
    the number of sources sharing a shingle, ≤ 5 here), and the matrix
    is #sources² rows at most. Complements text_contamination_overlap
    (doc-vs-eval-set) at the corpus-vs-corpus grain.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    hashes = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (OVERLAP_SHINGLE - 1)),
        lambda i: shingle_hash60(
            F.concat_ws(
                " ",
                *[F.element_at(toks, i + k) for k in range(OVERLAP_SHINGLE)],
            )
        ),
    )
    sh = (
        d.select(
            "source",
            F.explode(
                F.when(F.size(toks) >= OVERLAP_SHINGLE, hashes).otherwise(
                    F.array().cast("array<bigint>")
                )
            ).alias("h"),
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("szb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("sza") + F.col("szb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common") * 1.0 / F.least("sza", "szb"), 6
            ).alias("overlap_coef"),
        )
        .orderBy("src_a", "src_b")
    )


# --- round-5 carriers: first-time 'tfidf' and 'lm' window entries ----

TFIDF_SRC_TOP = 5


@query(
    "text_tfidf_source_signature",
    oracle=f"""
        WITH toks AS (
            SELECT source, UNNEST(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS tok
            FROM documents
        ),
        tf AS (SELECT source, tok, COUNT(*) AS tf FROM toks GROUP BY source, tok),
        df AS (SELECT tok, COUNT(DISTINCT source) AS df FROM toks GROUP BY tok),
        n AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_src FROM documents)
        SELECT source, tok,
               ROUND(tf * LN(n_src / df), 6) AS tfidf
        FROM tf JOIN df USING (tok) CROSS JOIN n
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY ROUND(tf * LN(n_src / df), 6) DESC, tok
        ) <= {TFIDF_SRC_TOP}
    """,
    tags=("text", "tfidf", "documents"),
)
def text_tfidf_source_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-signature terms: TF-IDF at the SOURCE granularity (each
    source treated as one mega-document, df = #sources carrying the
    term) — the corpus-profiling view that tells a curation pipeline
    which crawl/source contributes which vocabulary. Same two-agg +
    broadcast-df + rounded-top-k plan as the per-doc variant
    (``text_tfidf_top_terms``), one aggregation level up."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"),
    )
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("source").alias("df"))
    n = d.agg(F.countDistinct("source").cast("double").alias("n_src"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "tok",
            F.round(F.col("tf") * F.log(F.col("n_src") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TFIDF_SRC_TOP)
        .drop("rn")
    )


UPX_K = 0.5  # add-k smoothing for the source-level perplexity


@query(
    "text_source_perplexity",
    oracle=f"""
        WITH toks AS (
            SELECT source, UNNEST(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS tok
            FROM documents
        ),
        uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n,
                       CAST(COUNT(*) AS DOUBLE) AS v FROM uni)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(LOG2((c + {UPX_K}) / (n + {UPX_K} * v))), 6)
                   AS avg_log2p,
               ROUND(POWER(2.0, -AVG(LOG2((c + {UPX_K}) / (n + {UPX_K} * v)))), 4)
                   AS perplexity
        FROM toks JOIN uni USING (tok) CROSS JOIN tot
        GROUP BY source
    """,
    tags=("text", "lm", "curation", "documents"),
)
def text_source_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE perplexity under the corpus-wide add-k unigram model —
    the source-level quality dashboard (a source whose text surprises
    the corpus LM is boilerplate, spam, or another language; CCNet
    filters on exactly this signal, one LM level up). Plan: one
    token-keyed count (map-side combined), scalar (N, V) broadcast, one
    probe join keyed on the token, one source-keyed aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"),
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(
        F.sum("c").cast("double").alias("n"), F.count(F.lit(1)).cast("double").alias("v")
    )
    logp = F.log2((F.col("c") + UPX_K) / (F.col("n") + UPX_K * F.col("v")))
    return (
        toks.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg(logp), 6).alias("avg_log2p"),
            F.round(F.pow(F.lit(2.0), -F.avg(logp)), 4).alias("perplexity"),
        )
    )


# --- round-5: PPMI word vectors + nearest neighbors ------------------

PPMI_WIN = 2        # symmetric co-occurrence window (tokens)
PPMI_VOCAB_MIN = 10  # token-count floor for vocabulary membership
PPMI_PROBES = 5      # most-frequent tokens whose neighbors are reported
PPMI_TOPN = 5


@query(
    "text_ppmi_neighbors",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, i.i AS pos, toks[i.i] AS tok
            FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '), t -> t <> '') AS toks
                  FROM documents),
                 (SELECT UNNEST(range(1, 100000)) AS i) i
            WHERE i.i <= len(toks)
        ),
        vocab AS (
            SELECT tok, COUNT(*) AS c FROM pos GROUP BY tok
            HAVING COUNT(*) >= {PPMI_VOCAB_MIN}
        ),
        pairs AS (
            SELECT a.tok AS w, b.tok AS c_tok, COUNT(*) AS cwc
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id
             AND b.pos BETWEEN a.pos - {PPMI_WIN} AND a.pos + {PPMI_WIN}
             AND b.pos <> a.pos
            JOIN vocab va ON va.tok = a.tok
            JOIN vocab vb ON vb.tok = b.tok
            GROUP BY a.tok, b.tok
        ),
        tot AS (SELECT CAST(SUM(cwc) AS DOUBLE) AS n FROM pairs),
        marg AS (SELECT w, CAST(SUM(cwc) AS DOUBLE) AS cw FROM pairs GROUP BY w),
        ppmi AS (
            SELECT p.w, p.c_tok,
                   GREATEST(0.0, LN((p.cwc * (SELECT n FROM tot))
                                    / (mw.cw * mc.cw))) AS v
            FROM pairs p
            JOIN marg mw ON mw.w = p.w
            JOIN marg mc ON mc.w = p.c_tok
        ),
        norms AS (SELECT w, SQRT(SUM(v * v)) AS nrm FROM ppmi GROUP BY w),
        probes AS (
            SELECT tok FROM vocab
            ORDER BY c DESC, tok LIMIT {PPMI_PROBES}
        ),
        sims AS (
            SELECT q.w AS probe, d.w AS neighbor,
                   ROUND(SUM(q.v * d.v) / (nq.nrm * nd.nrm), 6) AS cos_sim
            FROM ppmi q
            JOIN probes pr ON pr.tok = q.w
            JOIN ppmi d ON d.c_tok = q.c_tok AND d.w <> q.w
            JOIN norms nq ON nq.w = q.w
            JOIN norms nd ON nd.w = d.w
            GROUP BY q.w, d.w, nq.nrm, nd.nrm
        )
        SELECT probe, neighbor, cos_sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe
                        ORDER BY cos_sim DESC, neighbor) AS rn
            FROM sims)
        WHERE rn <= {PPMI_TOPN}
    """,
    tags=("text", "lm", "embeddings", "similarity", "documents"),
)
def text_ppmi_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based word embeddings with EXACT cross-engine semantics:
    PPMI(w,c) = max(0, ln(N·c(w,c) / (c(w)·c(c)))) over a ±2-token
    window, then cosine nearest neighbors of the 5 most frequent
    words — the deterministic, SQL-checkable complement of the seeded
    MLlib ``text_word2vec`` (PPMI-SVD is the classical factorization
    word2vec implicitly approximates). Spark builds co-occurrence
    ARRAY-SIDE (each position's ≤4 context tokens come from one slice
    of the SAME token array — no positional self-join, text never
    shuffles); the oracle derives the identical pairs by positional
    self-join, so the gate cross-checks two independent formulations.
    Sparse cosine = one equi-join on the shared context dimension with
    the probe side (5 rows of the matrix) broadcast; ranking uses the
    ROUNDED similarity + neighbor tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    base = d.select("doc_id", toks.alias("toks")).persist()  # lambda-CSE idiom
    tcol = F.col("toks")
    # array-side (tok, context) pair stream: position i contributes
    # pairs with positions i±1..i±WIN clipped to the array bounds
    pair_arrays = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(tcol)),
            lambda i: F.filter(
                F.transform(
                    F.sequence(i - PPMI_WIN, i + PPMI_WIN),
                    lambda j: F.when(
                        (j != i) & (j >= 1) & (j <= F.size(tcol)),
                        F.struct(
                            F.element_at(tcol, i).alias("w"),
                            F.element_at(tcol, j).alias("c_tok"),
                        ),
                    ),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )
    raw_pairs = base.select(F.explode(pair_arrays).alias("p")).select(
        F.col("p.w").alias("w"), F.col("p.c_tok").alias("c_tok")
    )
    vocab = (
        base.select(F.explode(tcol).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= PPMI_VOCAB_MIN)
    )
    pairs = (
        raw_pairs.join(
            F.broadcast(vocab.select(F.col("tok").alias("w"))), "w"
        )
        .join(F.broadcast(vocab.select(F.col("tok").alias("c_tok"))), "c_tok")
        .groupBy("w", "c_tok")
        .agg(F.count(F.lit(1)).alias("cwc"))
        .persist()
    )
    tot = pairs.agg(F.sum("cwc").cast("double").alias("n"))
    marg = pairs.groupBy("w").agg(F.sum("cwc").cast("double").alias("cw"))
    ppmi = (
        pairs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(marg.select(F.col("w"), F.col("cw").alias("cw_w"))), "w")
        .join(
            F.broadcast(
                marg.select(F.col("w").alias("c_tok"), F.col("cw").alias("cw_c"))
            ),
            "c_tok",
        )
        .select(
            "w",
            "c_tok",
            F.greatest(
                F.lit(0.0),
                F.log(F.col("cwc") * F.col("n") / (F.col("cw_w") * F.col("cw_c"))),
            ).alias("v"),
        )
        .persist()
    )
    norms = ppmi.groupBy("w").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    wp = Window.orderBy(F.col("c").desc(), "tok")
    probes = (
        vocab.select("tok", F.row_number().over(wp).alias("rn"))
        .filter(F.col("rn") <= PPMI_PROBES)
        .select(F.col("tok").alias("w"))
    )
    q = ppmi.join(F.broadcast(probes), "w").select(
        F.col("w").alias("probe"), "c_tok", F.col("v").alias("qv")
    )
    sims = (
        q.join(ppmi.withColumnRenamed("w", "neighbor"), "c_tok")
        .filter(F.col("neighbor") != F.col("probe"))
        .groupBy("probe", "neighbor")
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
        .join(F.broadcast(norms.select(F.col("w").alias("probe"), F.col("nrm").alias("nq"))), "probe")
        .join(norms.select(F.col("w").alias("neighbor"), F.col("nrm").alias("nd")), "neighbor")
        .select(
            "probe",
            "neighbor",
            F.round(F.col("dot") / (F.col("nq") * F.col("nd")), 6).alias("cos_sim"),
        )
    )
    wr = Window.partitionBy("probe").orderBy(F.col("cos_sim").desc(), "neighbor")
    return (
        sims.select("*", F.row_number().over(wr).alias("rn"))
        .filter(F.col("rn") <= PPMI_TOPN)
        .drop("rn")
    )


# --- round-6 carrier: first-time 'tfidf' entry -------------------------

TFIDF_QUERY_TERMS = ("spark", "window", "join")
TFIDF_QUERY_TOP = 20


@query(
    "text_tfidf_query_rank",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf FROM toks
            WHERE tok IN {TFIDF_QUERY_TERMS!r}
            GROUP BY doc_id, tok
        ),
        df AS (
            SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
            WHERE tok IN {TFIDF_QUERY_TERMS!r}
            GROUP BY tok
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id,
                   ROUND(SUM(tf.tf * LN(n.n_docs / df.df)), 6) AS score,
                   CAST(COUNT(*) AS BIGINT)                    AS n_terms_hit
            FROM tf JOIN df USING (tok) CROSS JOIN n
            GROUP BY tf.doc_id
        )
        SELECT doc_id, score, n_terms_hit
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT {TFIDF_QUERY_TOP}
    """,
    tags=("text", "tfidf", "topk", "documents"),
)
def text_tfidf_query_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF QUERY SCORING — the retrieval half of tf-idf (per-doc
    signatures: ``text_tfidf_top_terms``; per-source:
    ``text_tfidf_source_signature``, certified r05): rank documents
    against a fixed query by summed tf·idf over the query terms only.
    The term filter lands BEFORE the tf aggregation (pushdown on the
    exploded stream), df is a 3-row broadcast, and the final ranking is
    orderBy+limit = TakeOrderedAndProject — the inverted-index probe
    shape, linear in corpus size with a constant-size reduce."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "tok"
        ),
    ).filter(F.col("tok").isin(*TFIDF_QUERY_TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))), 6
            ).alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(TFIDF_QUERY_TOP)
    )


# --- round-7 spare carriers: tfidf / lm ---------------------------------


@query(
    "text_tfidf_source_cosine",
    oracle="""
        WITH toks AS (
            SELECT source, UNNEST(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS tok
            FROM documents
        ),
        tf AS (SELECT source, tok, COUNT(*) AS tf FROM toks
               GROUP BY source, tok),
        df AS (SELECT tok, COUNT(DISTINCT source) AS df FROM toks GROUP BY tok),
        n AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_src
              FROM documents),
        w AS (
            SELECT tf.source, tf.tok,
                   tf.tf * LN(n.n_src / df.df) AS wt
            FROM tf JOIN df USING (tok) CROSS JOIN n
            WHERE df.df < (SELECT COUNT(DISTINCT source) FROM documents)
        ),
        nrm AS (SELECT source, SQRT(SUM(wt * wt)) AS nrm FROM w GROUP BY source)
        SELECT a.source AS src_a, b.source AS src_b,
               ROUND(SUM(a.wt * b.wt) / (na.nrm * nb.nrm), 6) AS cos_sim
        FROM w a
        JOIN w b ON a.tok = b.tok AND a.source < b.source
        JOIN nrm na ON na.source = a.source
        JOIN nrm nb ON nb.source = b.source
        GROUP BY a.source, b.source, na.nrm, nb.nrm
    """,
    tags=("text", "tfidf", "similarity", "documents"),
)
def text_tfidf_source_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source×source COSINE over tf-idf vectors — which crawls carry
    the same vocabulary profile (the source-similarity matrix a mixing
    strategy reads; per-source top terms: ``text_tfidf_source_signature``,
    certified r05). Zero-idf terms (df = all sources) are dropped on
    BOTH sides — they contribute nothing and keep the sparse join
    small. Sparse cosine = one equi-join on the shared term dimension;
    with S sources the output is C(S,2) rows and the join input is
    |vocab|·S — both scale-free in the document count."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "tok"
        ),
    )
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("source").alias("df"))
    n_src_val = d.agg(
        F.countDistinct("source").cast("double").alias("n_src")
    )
    w = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n_src_val))
        .filter(F.col("df") < F.col("n_src"))
        .select(
            "source",
            "tok",
            (F.col("tf") * F.log(F.col("n_src") / F.col("df"))).alias("wt"),
        )
    )
    nrm = w.groupBy("source").agg(F.sqrt(F.sum(F.col("wt") ** 2)).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot"))
        .join(F.broadcast(nrm.select(F.col("source").alias("src_a"),
                                     F.col("nrm").alias("na"))), "src_a")
        .join(F.broadcast(nrm.select(F.col("source").alias("src_b"),
                                     F.col("nrm").alias("nb"))), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cos_sim"
            ),
        )
    )


PPX_K = 0.5       # add-k smoothing mass
PPX_OUT_TOP = 10  # outliers reported


@query(
    "text_perplexity_outliers",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   UNNEST(list_filter(string_split(text, ' '),
                          t -> t <> '')) AS tok
            FROM documents
        ),
        uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        consts AS (
            SELECT CAST(SUM(c) AS DOUBLE) AS n,
                   CAST(COUNT(*) AS DOUBLE) AS v
            FROM uni
        ),
        ce AS (
            SELECT t.doc_id, t.source,
                   AVG(-LN((uni.c + {PPX_K}) / (consts.n + {PPX_K} * consts.v)))
                       AS doc_ce
            FROM toks t JOIN uni USING (tok) CROSS JOIN consts
            GROUP BY t.doc_id, t.source
        ),
        z AS (
            SELECT doc_id, source, doc_ce,
                   (doc_ce - AVG(doc_ce) OVER (PARTITION BY source))
                   / STDDEV_POP(doc_ce) OVER (PARTITION BY source) AS zval
            FROM ce
        )
        SELECT doc_id, source,
               ROUND(doc_ce, 6) AS doc_ce,
               ROUND(zval, 6)   AS z
        FROM z
        ORDER BY ROUND(ABS(zval), 6) DESC, doc_id
        LIMIT {PPX_OUT_TOP}
    """,
    tags=("text", "lm", "quality", "documents"),
)
def text_perplexity_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT perplexity OUTLIERS: add-k unigram cross-entropy
    per doc, z-scored WITHIN its source, top-|z| — the LM-based
    anomaly filter that flags gibberish and boilerplate a corpus-level
    mean hides (source-level twin: ``text_source_perplexity``,
    certified r05). The unigram table broadcasts; per-doc CE is one
    map-side-combined aggregate; the z-score windows sit on the
    |docs|-row CE frame. Ranking keys are rounded BEFORE the sort so
    both engines cut the identical top-10."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "tok"
        ),
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    consts = uni.agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    ce = (
        toks.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id", "source")
        .agg(
            F.avg(
                -F.log(
                    (F.col("c") + PPX_K) / (F.col("n") + PPX_K * F.col("v"))
                )
            ).alias("doc_ce")
        )
    )
    wsrc = Window.partitionBy("source")
    z = ce.select(
        "doc_id",
        "source",
        "doc_ce",
        (
            (F.col("doc_ce") - F.avg("doc_ce").over(wsrc))
            / F.stddev_pop("doc_ce").over(wsrc)
        ).alias("zval"),
    )
    return (
        z.select(
            "doc_id",
            "source",
            F.round("doc_ce", 6).alias("doc_ce"),
            F.round("zval", 6).alias("z"),
        )
        .orderBy(F.round(F.abs(F.col("z")), 6).desc(), "doc_id")
        .limit(PPX_OUT_TOP)
    )


# --- round-8 spare tranche: field-boost tf-idf + discounted bigram LM ---

FIELD_TITLE_LEN = 5    # first N tokens act as the "title" field
FIELD_TITLE_BOOST = 2  # integer boost keeps the weighting exact
FIELD_QUERY = ("spark", "merge")
FIELD_TOP = 15


@query(
    "text_tfidf_field_boost",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, tok,
                   CASE WHEN pos <= {FIELD_TITLE_LEN}
                        THEN {FIELD_TITLE_BOOST} ELSE 1 END AS w
            FROM (SELECT doc_id,
                         UNNEST(list_filter(string_split(text, ' '),
                                t -> t <> '')) AS tok,
                         CAST(generate_subscripts(
                             list_filter(string_split(text, ' '),
                                         t -> t <> ''), 1) AS BIGINT) AS pos
                  FROM documents)
        ),
        tf AS (
            SELECT doc_id, tok, SUM(w) AS wtf FROM toks
            WHERE tok IN {FIELD_QUERY!r}
            GROUP BY doc_id, tok
        ),
        df AS (
            SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
            WHERE tok IN {FIELD_QUERY!r}
            GROUP BY tok
        ),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
        SELECT tf.doc_id,
               ROUND(SUM(tf.wtf * LN(n.n_docs / df.df)), 6) AS score,
               CAST(SUM(tf.wtf) AS BIGINT)                  AS weighted_tf
        FROM tf JOIN df USING (tok) CROSS JOIN n
        GROUP BY tf.doc_id
        ORDER BY score DESC, doc_id
        LIMIT {FIELD_TOP}
    """,
    tags=("text", "tfidf", "topk", "documents"),
)
def text_tfidf_field_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIELD-BOOSTED tf-idf: hits in the first 5 tokens (the "title"
    field) count 2× — the multi-field relevance shape (BM25F's
    essential move) on top of the plain query scorer
    (``text_tfidf_query_rank``). The boost is applied at the token
    stream BEFORE the tf aggregation (one posexplode carries the
    position), so the plan is identical to unboosted scoring: filter →
    weighted count → broadcast df → TakeOrderedAndProject. Integer
    boosts keep the weighted tf exact cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", " "), lambda t: t != "")),
    ).select(
        "doc_id",
        F.col("col").alias("tok"),
        F.when(F.col("pos") + 1 <= FIELD_TITLE_LEN, FIELD_TITLE_BOOST)
        .otherwise(1)
        .alias("w"),
    ).filter(F.col("tok").isin(*FIELD_QUERY))
    tf = toks.groupBy("doc_id", "tok").agg(F.sum("w").alias("wtf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("wtf") * F.log(F.col("n_docs") / F.col("df"))), 6
            ).alias("score"),
            F.sum("wtf").cast("bigint").alias("weighted_tf"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(FIELD_TOP)
    )


# ---------------------------------------------------------------------------
# text / tfidf / topk: BM25 ranking with a fixed conjunctive query
# ---------------------------------------------------------------------------

BM25_TERMS = ("table", "query", "spark")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def _bm25_sql() -> str:
    t1, t2, t3 = BM25_TERMS
    tf_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_TERMS, 1)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(1, 4)
    )
    # per-term score written as ONE shared expression template so both
    # engines evaluate the identical float DAG
    score = " + ".join(
        f"""(LN(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))
             * (tf{i} * ({BM25_K1} + 1.0))
             / (tf{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)))"""
        for i in range(1, 4)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        per_doc AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl, {tf_cols}
            FROM toks GROUP BY doc_id
        ),
        corpus AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, {df_cols}
            FROM per_doc
        ),
        scored AS (
            SELECT doc_id, dl, tf1, tf2, tf3,
                   ROUND({score}, 6) AS bm25
            FROM per_doc, corpus
            WHERE tf1 + tf2 + tf3 > 0
        )
        SELECT doc_id, dl, tf1, tf2, tf3, bm25,
               CAST(rn AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn
              FROM scored)
        WHERE rn <= {BM25_TOPK}
    """


@query(
    "text_bm25_rank",
    oracle=_bm25_sql(),
    tags=("text", "tfidf", "topk", "documents"),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75) for a fixed 3-term query — the
    retrieval scoring function that superseded raw tf-idf (Robertson/
    Okapi; the Lucene default). Everything upstream of the score is
    EXACT integers (tf per term via conditional aggregation — no
    pivot shuffle; dl; df; N), and the score itself is ONE shared
    float expression template with the three per-term contributions
    summed in FIXED textual order on both engines — the bit-stability
    discipline for float scoring. Corpus stats are a 1-row broadcast;
    top-k is a rank over scored docs only (zero-match docs pruned
    before the sort). tf-idf siblings: ``text_tfidf_query_rank``
    (r06), ``text_tfidf_field_boost`` (stock)."""
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    tf_aggs = [
        F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
        .cast("bigint")
        .alias(f"tf{i}")
        for i, t in enumerate(BM25_TERMS, 1)
    ]
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"), *tf_aggs
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(1, 4)
        ],
    )
    def term_score(i: int):
        tf = F.col(f"tf{i}")
        df = F.col(f"df{i}")
        idf = F.log(1.0 + (F.col("n_docs") - df + 0.5) / (df + 0.5))
        return (
            idf
            * (tf * (BM25_K1 + 1.0))
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )

    scored = (
        per_doc.crossJoin(F.broadcast(corpus))
        .filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select(
            "doc_id", "dl", "tf1", "tf2", "tf3",
            F.round(term_score(1) + term_score(2) + term_score(3), 6).alias(
                "bm25"
            ),
        )
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.select("*", F.row_number().over(w).cast("bigint").alias("rank"))
        .filter(F.col("rank") <= BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# tfidf: corpus rarity profile (idf histogram)
# ---------------------------------------------------------------------------


@query(
    "text_tfidf_rarity_profile",
    oracle="""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        df AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
            FROM toks GROUP BY tok
        ),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
              FROM toks)
        SELECT CAST(FLOOR(LN(n.n_docs / df.df)) AS BIGINT) AS idf_bucket,
               CAST(COUNT(*) AS BIGINT)                    AS n_terms,
               CAST(MIN(df.df) AS BIGINT)                  AS min_df,
               CAST(MAX(df.df) AS BIGINT)                  AS max_df
        FROM df, n
        GROUP BY FLOOR(LN(n.n_docs / df.df))
    """,
    tags=("text", "tfidf", "documents"),
)
def text_tfidf_rarity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS RARITY PROFILE: vocabulary histogrammed by ⌊idf⌋ — how
    much of the vocabulary is common glue (idf≈0) vs discriminative
    tail — the first diagnostic before committing tf-idf/BM25 weights
    or a stop-list (scorers: ``text_bm25_rank``,
    ``text_tfidf_query_rank`` r06). df counts are exact integers from
    one DISTINCT(doc,term) pass; idf is one LN per TERM (deterministic
    row-local float) floored into integer buckets, so the output is
    integer-exact. Map-side-combined; output = O(distinct buckets)."""
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).distinct()
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = toks.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    return (
        df.crossJoin(F.broadcast(n))
        .groupBy(
            F.floor(F.log(F.col("n_docs") / F.col("df")))
            .cast("bigint")
            .alias("idf_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.min("df").cast("bigint").alias("min_df"),
            F.max("df").cast("bigint").alias("max_df"),
        )
    )


# ---------------------------------------------------------------------------
# text/tfidf: pivoted length normalization (Singhal) query scoring
# ---------------------------------------------------------------------------

PIV_S = 0.2  # pivot slope (the Singhal et al. default)
PIV_TERMS = ("table", "query", "stream")
PIV_TOPK = 10


def _pivoted_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(PIV_TERMS, 1)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(1, 4)
    )
    score = " + ".join(
        f"""(tf{i} / ((1.0 - {PIV_S}) + {PIV_S} * dl / avgdl))
               * LN((n_docs + 1.0) / df{i})"""
        for i in range(1, 4)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        per_doc AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl, {tf_cols}
            FROM toks GROUP BY doc_id
        ),
        corpus AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                   {df_cols}
            FROM per_doc
        ),
        scored AS (
            SELECT doc_id, dl, tf1, tf2, tf3,
                   ROUND({score}, 6) AS piv_score
            FROM per_doc, corpus
            WHERE tf1 + tf2 + tf3 > 0
        )
        SELECT doc_id, dl, tf1, tf2, tf3, piv_score,
               CAST(ROW_NUMBER() OVER (ORDER BY piv_score DESC, doc_id)
                    AS BIGINT) AS rank
        FROM scored QUALIFY rank <= {PIV_TOPK}
    """


@query(
    "text_tfidf_pivoted_norm",
    oracle=_pivoted_sql(),
    tags=("text", "tfidf", "topk", "documents"),
)
def text_tfidf_pivoted_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOTED LENGTH NORMALIZATION (Singhal/Buckley/Mitra, s=0.2):
    tf/((1−s) + s·dl/avgdl) · ln((N+1)/df) summed over a fixed 3-term
    query — the pre-BM25 fix for cosine normalization's short-document
    bias, and the third member of this repo's retrieval-scoring family
    (``text_bm25_rank``, ``text_tfidf_query_rank``). Everything
    upstream of the score is EXACT integers (tf, dl, df, N); the score
    is ONE float expression template with the three per-term
    contributions summed in fixed textual order in both dialects.
    Corpus stats are a 1-row broadcast; top-10 ranks scored docs only
    (zero-match docs pruned before the sort). One token pass, one
    aggregate, one k-bounded sort."""
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(PIV_TERMS, 1)
        ],
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(1, 4)
        ],
    )
    score = None
    for i in range(1, 4):
        term = (
            F.col(f"tf{i}")
            / ((1.0 - PIV_S) + PIV_S * F.col("dl") / F.col("avgdl"))
        ) * F.log((F.col("n_docs") + 1.0) / F.col(f"df{i}"))
        score = term if score is None else score + term
    scored = (
        per_doc.crossJoin(F.broadcast(corpus))
        .filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select(
            "doc_id", "dl", "tf1", "tf2", "tf3",
            F.round(score, 6).alias("piv_score"),
        )
    )
    w = Window.orderBy(F.col("piv_score").desc(), "doc_id")
    return scored.select(
        "*", F.row_number().over(w).cast("bigint").alias("rank")
    ).filter(F.col("rank") <= PIV_TOPK)


# ---------------------------------------------------------------------------
# ml/text: CountVectorizer vocabulary contract (MLlib internals vs SQL)
# ---------------------------------------------------------------------------

VOCAB_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for",
    "is", "are", "was", "be", "with", "as", "at", "by", "it", "this",
)


def _vocab_contract_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in VOCAB_STOPWORDS)
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok,
                   CAST(generate_subscripts(
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> ''), 1) AS BIGINT) AS pos
            FROM documents
        ),
        kept AS (
            SELECT doc_id, tok,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS kpos
            FROM toks WHERE tok NOT IN ({stop_list})
        ),
        bigrams AS (
            SELECT DISTINCT a.tok || ' ' || b.tok AS bigram
            FROM kept a JOIN kept b
              ON a.doc_id = b.doc_id AND b.kpos = a.kpos + 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
               md5(string_agg(bigram, '|' ORDER BY bigram)) AS vocab_md5
        FROM bigrams
    """


@query(
    "text_pipeline_vocab_contract",
    oracle=_vocab_contract_sql(),
    tags=("text", "ml", "mllib", "documents"),
)
def text_pipeline_vocab_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib FEATURE-PIPELINE VOCABULARY CONTRACT — the SQL-oracled
    face of ``text_mllib_pipeline`` (rows-only because vocabulary
    INDEX order is an MLlib internal; the vocabulary SET is not):
    fit RegexTokenizer(\\s+, lowercase) → StopWordsRemover(explicit
    20-word list, shared with the oracle as a literal) → NGram(2) →
    CountVectorizer with vocabSize ABOVE the corpus's bigram-type
    count, so the fitted vocabulary must equal EXACTLY the distinct
    kept-bigram set — which the oracle derives relationally (tokenize,
    stop-filter with re-ranked positions, pos+1 self-join, DISTINCT).
    The comparison ships as (count, md5 of the sorted '|'-joined set):
    any MLlib tokenization/stopword/ngram/fit divergence flips the
    hash → driver red row. The fit is one distributed term-count agg;
    the driver-side vocabulary is bounded by the bigram-type count
    (vocab lists are the one legitimately driver-sized object in an
    MLlib fit — same stance as ``ml_pipeline_metadata_contract``)."""
    import hashlib

    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        CountVectorizer,
        NGram,
        RegexTokenizer,
        StopWordsRemover,
    )

    d = load_table(spark, sf_dir, "documents")
    pipe = Pipeline(
        stages=[
            RegexTokenizer(inputCol="text", outputCol="toks", pattern="\\s+"),
            StopWordsRemover(
                inputCol="toks",
                outputCol="kept",
                stopWords=list(VOCAB_STOPWORDS),
            ),
            NGram(n=2, inputCol="kept", outputCol="bigrams"),
            CountVectorizer(
                inputCol="bigrams", outputCol="features", vocabSize=1 << 20
            ),
        ]
    )
    model = pipe.fit(d)
    vocab = model.stages[-1].vocabulary
    digest = hashlib.md5("|".join(sorted(vocab)).encode()).hexdigest()
    return spark.createDataFrame(
        [(len(vocab), digest)], "n_vocab long, vocab_md5 string"
    )


# ---------------------------------------------------------------------------
# topk + tfidf: per-document salient terms under an integer-only ranking
# ---------------------------------------------------------------------------

SALIENT_K = 3


@query(
    "text_topk_salient_terms",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM tf),
        ranked AS (
            SELECT doc_id, term, tf.tf, df.df, n_docs,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY tf.tf DESC, df.df ASC, term ASC) AS rank
            FROM tf JOIN df USING (term) CROSS JOIN nd
        )
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df,
               ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        FROM ranked WHERE rank <= {SALIENT_K}
    """,
    tags=("text", "tfidf", "topk", "documents"),
)
def text_topk_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K SALIENT TERMS per document under an INTEGER-ONLY ranking
    (tf DESC, df ASC, term ASC) — highest in-document frequency,
    rarest-in-corpus tiebreak: the keyword-extraction pass that labels
    documents for routing/packing. Ranking by the float tf·idf score
    itself is the classic cross-engine ULP trap (two engines can order
    two near-equal doubles differently); ranking by the integer triple
    is bit-stable BY CONSTRUCTION, and the float score is emitted as a
    VALUE (one fixed-order expression) without ever deciding order.
    Two map-side-combined counting aggregations (term keyed, then
    doc keyed), a broadcastable df probe join, one per-doc top-k
    window — at 100 TB df becomes a shuffle join co-partitioned with
    the tf aggregation and the window is bounded per doc."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    nd = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    ranked = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "term", "tf", "df", "n_docs",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= SALIENT_K)
    )
    return ranked.select(
        "doc_id",
        F.col("rank").cast("bigint").alias("rank"),
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
            6,
        ).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# tfidf + topk: IDF formulation comparison for the heaviest terms
# ---------------------------------------------------------------------------

IDF_TOPK = 20


@query(
    "text_tfidf_idf_variants",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_distinct(list_filter(string_split(text, ' '),
                                                    t -> t <> ''))) AS term
            FROM documents
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM toks GROUP BY term
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        top AS (
            SELECT term, df, n_docs,
                   CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term)
                        AS BIGINT) AS rk
            FROM df, n QUALIFY rk <= {IDF_TOPK}
        )
        SELECT rk, term, df, n_docs,
               ROUND(LN(CAST(n_docs AS DOUBLE) / df), 6) + 0 AS idf_raw,
               ROUND(LN((n_docs + 1.0) / (df + 1)) + 1.0, 6) AS idf_smooth,
               ROUND(LN((n_docs - df + 0.5) / (df + 0.5)), 6) + 0
                   AS idf_bm25
        FROM top
    """,
    tags=("text", "tfidf", "topk", "documents"),
)
def text_tfidf_idf_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF FORMULATION comparison for the top-20 document-frequency
    terms — the three weights every retrieval stack chooses between:
    raw ln(N/df), sklearn's smoothed ln((N+1)/(df+1))+1, and BM25's
    probabilistic ln((N−df+0.5)/(df+0.5)) which goes NEGATIVE for
    terms in more than half the corpus — exactly the head terms this
    top-k selects, so the sign flip is exercised, and why idf_raw
    and idf_bm25 carry ``+ 0`` guards (df = N rounds raw to exactly
    -0.0 on DuckDB). df is doc-distinct (array-side list_distinct
    before the explode — a term repeated in one document counts
    once); rank carries the term tiebreak. 100 TB: one term-keyed
    count + a 20-row global top-k; the three floats are per-row
    expressions over two exact integers."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("term"),
    )
    df = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    rk = F.row_number().over(Window.orderBy(F.col("df").desc(), "term"))
    top = (
        df.crossJoin(F.broadcast(n))
        .select(rk.cast("bigint").alias("rk"), "term", "df", "n_docs")
        .filter(F.col("rk") <= IDF_TOPK)
    )
    nd = F.col("n_docs").cast("double")
    return top.select(
        "rk",
        "term",
        "df",
        "n_docs",
        F.round(F.log(nd / F.col("df")), 6).alias("idf_raw"),
        F.round(F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1)) + 1.0, 6)
        .alias("idf_smooth"),
        F.round(
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            6,
        ).alias("idf_bm25"),
    )


# ---------------------------------------------------------------------------
# tfidf: BM25 probe-term scoring
# ---------------------------------------------------------------------------

BM25_PROBE_TERMS = ("column", "window", "scan")


def _bm25_probe_sql() -> str:
    probes = ", ".join(f"'{t}'" for t in BM25_PROBE_TERMS)
    # one fixed-order term expression per probe, summed in literal
    # probe order (t0 + t1 + t2) — never a data-ordered aggregate
    term_exprs = []
    for i, t in enumerate(BM25_PROBE_TERMS):
        term_exprs.append(
            f"""(LN((stats.n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)
                 * (tf{i} * {BM25_K1 + 1.0})
                 / (tf{i} + {BM25_K1} * (1.0 - {BM25_B}
                    + {BM25_B} * dl / (CAST(stats.total_len AS DOUBLE)
                                       / stats.n_docs))))"""
        )
    score = " + ".join(term_exprs)
    tf_cols = ", ".join(
        f"""CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT)
            AS tf{i}"""
        for i, t in enumerate(BM25_PROBE_TERMS)
    )
    df_cols = ", ".join(
        f"""CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS df{i}"""
        for i in range(len(BM25_PROBE_TERMS))
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        dt AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl, {tf_cols}
            FROM toks GROUP BY doc_id
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS total_len,
                   {df_cols}
            FROM dt
        )
        SELECT doc_id, dl, tf0, tf1, tf2,
               ROUND({score}, 6) + 0 AS bm25
        FROM dt, stats
        WHERE tf0 + tf1 + tf2 > 0
    """


@query(
    "text_tfidf_bm25_probe_ranking",
    oracle=_bm25_probe_sql(),
    tags=("text", "tfidf", "documents"),
)
def text_tfidf_bm25_probe_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson/Spärck Jones) probe-term scoring — the ranking
    function the tf-idf family graduates into (k1=1.2 saturates term
    frequency, b=0.75 length-normalizes against the corpus mean; the
    plain tf-idf variants live in ``text_tfidf_idf_variants``):
    score(d) = Σ_t IDF(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with the +0.5-smoothed IDF (arg ≥ 1, so LN is self-guarded even
    for a vanished vocabulary — no CASE needed, per the r09 advice
    class). Every count (tf, df, dl, N, Σdl) is an exact integer from
    one token aggregate; the score is a FIXED-ORDER sum of three
    per-probe expressions written in literal probe order on both
    engines — never a data-ordered float reduction. Zero-hit docs are
    excluded by an exact integer predicate. 100 TB: one token-keyed
    aggregate + a broadcast 1-row stats frame; scores are map-only."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("dl")] + [
        F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
        .cast("bigint")
        .alias(f"tf{i}")
        for i, t in enumerate(BM25_PROBE_TERMS)
    ]
    dt = toks.groupBy("doc_id").agg(*aggs)
    stats = dt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(len(BM25_PROBE_TERMS))
        ],
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    score = None
    for i in range(len(BM25_PROBE_TERMS)):
        tf = F.col(f"tf{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
            + 1.0
        )
        t = (
            idf
            * (tf * (BM25_K1 + 1.0))
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl))
        )
        score = t if score is None else score + t
    return (
        dt.crossJoin(F.broadcast(stats))
        .filter((F.col("tf0") + F.col("tf1") + F.col("tf2")) > 0)
        .select(
            "doc_id", "dl", "tf0", "tf1", "tf2",
            F.round(score, 6).alias("bm25"),
        )
    )
