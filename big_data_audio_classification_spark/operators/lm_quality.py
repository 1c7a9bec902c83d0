"""Corpus-derived language-model quality scoring and training-mix
computation — the two curation moves between "filtered corpus" and
"training batches" in an LLM data pipeline.

* ``text_unigram_logprob`` — CCNet-style quality proxy: score every
  document by its mean per-token log2-probability under the corpus's
  own unigram distribution. Documents full of rare/garbage tokens score
  low (very negative); formulaic boilerplate scores high. This is the
  cheap stand-in for the KenLM perplexity filter used by public
  pipelines (CCNet, RefinedWeb) — same plan shape, the LM is just
  order-0.
* ``curation_source_mix_weights`` — temperature-scaled source sampling
  weights (the multilingual/both-corpora mixing rule, alpha = 0.5):
  w_s proportional to tokens_s^alpha, normalized; plus the implied epochs
  multiplier w_s * total_tokens / tokens_s showing how many times each
  source is (re)seen under the mix.

Scale notes:
* Unigram scoring is two aggregations and one join, all keyed on the
  token: explode (linear) -> vocab count (shuffle on token) -> probe
  join token->count (shuffle co-partitioned with the count, or
  broadcast when the vocab fits — here it does, hinted) -> per-doc avg
  (shuffle on doc_id). The corpus TEXT never moves: only (doc_id,
  token) pairs shuffle, and at 100 TB the token key is hashed to a
  bigint first (see dedup.token_hash for the portable md5 form).
* The grand-total token count is a one-row aggregate broadcast into
  the scoring pass (crossJoin(broadcast)), never a window over an
  unpartitioned frame.
* Mix weights aggregate to |sources| rows; the normalizing constants
  are again a one-row broadcast. Everything is algebraic — map-side
  partials throughout.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from big_data_audio_classification_spark.operators.dedup import (
    _SQL_TOKENS,
    tokens_col,
)
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

MIX_ALPHA = 0.5  # temperature exponent: 1.0 = proportional sampling,
# 0.0 = uniform over sources; 0.5 is the standard multilingual pick.


@query(
    "text_unigram_logprob",
    oracle=f"""
        WITH t AS (SELECT doc_id, UNNEST({_SQL_TOKENS}) AS tok
                   FROM documents),
        v AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(LOG2(cnt)) - LOG2((SELECT total FROM tot)), 6)
                   AS avg_logprob
        FROM t JOIN v USING (tok)
        GROUP BY doc_id
    """,
    tags=("text", "curation", "quality", "lm", "documents"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token log2-probability under the corpus unigram LM.
    avg(log2(cnt/total)) is computed as avg(log2(cnt)) - log2(total) so
    the grand total joins once per document, not once per token."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", F.explode("toks").alias("tok"))
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    per_doc = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log2("cnt")).alias("mean_log2_cnt"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("mean_log2_cnt") - F.log2("total"), 6).alias("avg_logprob"),
    )


@query(
    "curation_source_mix_weights",
    oracle=f"""
        WITH s AS (
            SELECT source,
                   CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS tok_count,
                   COUNT(*)                                AS n_docs
            FROM documents GROUP BY source
        ),
        tot AS (SELECT SUM(POWER(tok_count, {MIX_ALPHA})) AS z,
                       CAST(SUM(tok_count) AS BIGINT)     AS total
                FROM s)
        SELECT source, tok_count, n_docs,
               ROUND(POWER(tok_count, {MIX_ALPHA}) / (SELECT z FROM tot), 6)
                   AS mix_weight,
               ROUND(POWER(tok_count, {MIX_ALPHA}) / (SELECT z FROM tot)
                     * (SELECT total FROM tot) / tok_count, 6)
                   AS epochs_multiplier
        FROM s
    """,
    tags=("text", "curation", "sampling", "documents"),
)
def curation_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) per-source sampling weights over
    token counts, plus the implied epochs multiplier per source. One
    scan -> |sources| rows -> one-row normalizer broadcast back."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(F.size(tokens_col(F.col("text")))).alias("tok_count"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    raw = F.pow("tok_count", F.lit(MIX_ALPHA))
    tot = per_source.agg(
        F.sum(raw).alias("z"), F.sum("tok_count").alias("total")
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok_count",
        "n_docs",
        F.round(raw / F.col("z"), 6).alias("mix_weight"),
        F.round(raw / F.col("z") * F.col("total") / F.col("tok_count"), 6).alias(
            "epochs_multiplier"
        ),
    )


QC_THRESHOLD = 0.75  # weak-label cut on the heuristic quality score
QC_FEATURES = 1024


QC_AGREE_FLOOR = 0.95  # measured per-source agreement 0.996-1.0 tri-SF


@query(
    "curation_quality_classifier",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents
        ),
        m AS (
            SELECT source,
                   CASE WHEN
                       LEAST(CAST(len(toks) AS DOUBLE) / 64, 1.0) * 0.4
                       + LEAST(CAST(len(list_filter(toks,
                             t -> t IN ('the','a','of','and','to','in')))
                             AS DOUBLE) / len(toks) * 5, 1.0) * 0.3
                       + CAST(len(list_distinct(toks)) AS DOUBLE)
                         / len(toks) * 0.3
                       >= {QC_THRESHOLD} THEN 1.0 ELSE 0.0 END AS label
            FROM t WHERE len(toks) > 0
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT)   AS n_docs,
               ROUND(AVG(label), 6)       AS weak_positive_rate,
               TRUE                       AS agreement_floor_ok
        FROM m GROUP BY source
    """,
    tags=("ml", "curation", "quality", "documents"),
)
def curation_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style quality-classifier distillation: weak-label the
    corpus with the cheap heuristic score (text.text_quality_score's
    formula), train a logistic regression on hashed bag-of-words
    features, and score every document with the learned model — the
    standard move that turns a hand-tuned heuristic into a smooth,
    generalizing quality signal.

    QUALITY-GATE contract (r06 rows-only conversion): per-source
    n_docs and weak_positive_rate are ORACLE-EXACT (the heuristic
    label is pure SQL); the learned model's contribution is gated as
    a boolean — per-source agreement with its own training labels
    must clear QC_AGREE_FLOOR = 0.95 (measured 0.996-1.0 at all three
    SFs: a hashed-BoW logistic regression distilling a deterministic
    length/stopword/TTR rule separates almost perfectly). Predicted
    probabilities stay engine-internal (l-bfgs), so they are gated,
    not value-compared.

    Scale notes: HashingTF is stateless (no vocabulary shuffle —
    hashing replaces the CountVectorizer fit entirely); LR training is
    MLlib's distributed l-bfgs over the assembled features; scoring is
    a map-only transform. The only shuffles are the final rollup and
    l-bfgs's internal tree-aggregations."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    from big_data_audio_classification_spark.operators.text import (
        STOPWORDS,
        _count_in,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", "source", toks.alias("toks")).filter(
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
    labeled = base.select(
        "doc_id",
        "source",
        "toks",
        (quality >= QC_THRESHOLD).cast("double").alias("label"),
    )
    tf = HashingTF(
        inputCol="toks", outputCol="features", numFeatures=QC_FEATURES
    )
    feats = tf.transform(labeled)
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", maxIter=25, regParam=0.01
    )
    model = lr.fit(feats)
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(feats).select(
        "doc_id",
        "source",
        "label",
        vector_to_array("probability")[1].alias("p_good"),
        (F.col("prediction") == F.col("label")).cast("double").alias("agree"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("label"), 6).alias("weak_positive_rate"),
        (F.avg("agree") >= QC_AGREE_FLOOR).alias("agreement_floor_ok"),
    )


BIGRAM_K = 0.5  # add-k smoothing constant


@query(
    "text_bigram_logprob",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKENS} AS l FROM documents
        ),
        uni AS (
            SELECT tok, COUNT(*) AS c1
            FROM (SELECT UNNEST(l) AS tok FROM toks)
            GROUP BY tok
        ),
        vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        bg AS (
            SELECT doc_id, l[i + 1] AS w1, l[i + 2] AS w2
            FROM toks, UNNEST(range(len(l) - 1)) AS t(i)
            WHERE len(l) >= 2
        ),
        bgc AS (
            SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(LOG2((c12 + {BIGRAM_K})
                              / (c1 + {BIGRAM_K} * v))), 6) AS avg_log2p,
               ROUND(POWER(2.0, -AVG(LOG2((c12 + {BIGRAM_K})
                                          / (c1 + {BIGRAM_K} * v)))), 4)
                   AS perplexity
        FROM bg
        JOIN bgc USING (w1, w2)
        JOIN uni ON uni.tok = bg.w1
        CROSS JOIN vsize
        GROUP BY doc_id
    """,
    tags=("text", "curation", "quality", "lm", "bigram", "documents"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-1 (bigram) LM quality score with add-k smoothing — one
    step up from ``text_unigram_logprob`` toward the KenLM perplexity
    filter: mean log2 P(w2|w1) = log2((c(w1,w2)+k) / (c(w1)+k*V)) per
    document, plus the implied per-document perplexity.

    Plan shape: bigram extraction is ARRAY-SIDE (arrays_zip of the
    token list with its own tail) — the text column never shuffles and
    no window/lag pass is needed; only (doc_id, w1, w2) triples move.
    Counts are two map-side-combined aggregations keyed on the gram;
    the probe joins are keyed on the same grams (broadcast here — the
    gram tables fit; at 100 TB they become shuffle joins co-partitioned
    with the counting aggregation, and the vocabulary is pruned to
    grams above a count floor, with the floor folded into the smoothing
    denominator). V arrives as a one-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("l"))
    n = F.size("l")
    bg = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("l"), 1, n - 1).alias("w1"),
                    F.slice(F.col("l"), 2, n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uni = (
        toks.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vsize = uni.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    logp = F.log2(
        (F.col("c12") + BIGRAM_K) / (F.col("c1") + BIGRAM_K * F.col("v"))
    )
    return (
        bg.join(F.broadcast(bgc), ["w1", "w2"])
        .join(F.broadcast(uni.withColumnRenamed("tok", "w1")), "w1")
        .crossJoin(F.broadcast(vsize))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_log2p"),
            F.round(F.pow(F.lit(2.0), -F.avg(logp)), 4).alias("perplexity"),
        )
    )


# ---------------------------------------------------------------------------
# lm: Jelinek-Mercer smoothed query likelihood
# ---------------------------------------------------------------------------

JM_LAMBDA = 0.7  # document weight; (1-λ) goes to the collection model
JM_TERMS = ("table", "query", "stream")


def _jm_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(JM_TERMS, 1)
    )
    cf_cols = ", ".join(
        f"CAST(SUM(tf{i}) AS DOUBLE) AS cf{i}" for i in range(1, 4)
    )
    ll = " + ".join(
        f"""LN({JM_LAMBDA} * tf{i} / dl
               + {1.0 - JM_LAMBDA} * cf{i} / clen)"""
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
            SELECT CAST(SUM(dl) AS DOUBLE) AS clen, {cf_cols} FROM per_doc
        )
        SELECT doc_id, dl, tf1, tf2, tf3,
               ROUND({ll}, 6) AS query_loglik
        FROM per_doc, corpus
    """


@query(
    "text_lm_jelinek_mercer",
    oracle=_jm_sql(),
    tags=("text", "lm", "documents"),
)
def text_lm_jelinek_mercer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JELINEK-MERCER smoothed query log-likelihood (λ=0.7): each
    document scores a fixed 3-term query under the interpolated
    language model λ·tf/dl + (1−λ)·cf/|C| — the query-likelihood
    retrieval model (Zhai & Lafferty) whose collection interpolation
    keeps zero-tf documents scoreable (absolute discounting sibling:
    ``text_lm_absolute_discount``; perplexity:
    ``text_perplexity_outliers``). All counts exact integers; the
    log-likelihood is one fixed-order 3-term float expression per row
    against a 1-row broadcast of collection stats — the same
    bit-stability discipline as ``text_bm25_rank``. One token pass,
    one aggregate, no sort."""
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(JM_TERMS, 1)
        ],
    )
    corpus = per_doc.agg(
        F.sum("dl").cast("double").alias("clen"),
        *[F.sum(f"tf{i}").cast("double").alias(f"cf{i}") for i in range(1, 4)],
    )
    ll = None
    for i in range(1, 4):
        term = F.log(
            JM_LAMBDA * F.col(f"tf{i}") / F.col("dl")
            + (1.0 - JM_LAMBDA) * F.col(f"cf{i}") / F.col("clen")
        )
        ll = term if ll is None else ll + term
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id", "dl", "tf1", "tf2", "tf3",
        F.round(ll, 6).alias("query_loglik"),
    )


# ---------------------------------------------------------------------------
# lm: Good-Turing count-of-counts table
# ---------------------------------------------------------------------------

GT_MAX_R = 10


@query(
    "text_lm_good_turing",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS r
               FROM toks GROUP BY doc_id, tok),
        coc AS (
            SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM tf WHERE r <= {GT_MAX_R + 1} GROUP BY r
        )
        SELECT a.r, a.n_r,
               ROUND((a.r + 1.0) * COALESCE(b.n_r, 0) / a.n_r, 6)
                   AS r_star
        FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
        WHERE a.r <= {GT_MAX_R}
    """,
    tags=("text", "lm", "documents"),
)
def text_lm_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING count-of-counts at the DOCUMENT level: N_r = how
    many (document, term) pairs have within-document frequency exactly
    r, for r ≤ 10, and the smoothed count r* = (r+1)·N_{r+1}/N_r —
    the frequency-of-frequencies table underpinning every discounting
    scheme (absolute discounting: ``text_lm_absolute_discount``; JM
    interpolation: ``text_lm_jelinek_mercer``). Document-level rather
    than corpus-level because this corpus's small vocabulary makes
    every corpus count huge — the doc-level table is the one a
    per-document LM actually discounts with. Two exact-integer
    aggregations + a 1-step self-join on r; r* is one fixed-order
    division per row. Output ≤ 10 rows at any SF."""
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    coc = (
        tf.filter(F.col("r") <= GT_MAX_R + 1)
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    )
    a, b = coc.alias("a"), coc.alias("b")
    return (
        a.join(b, F.col("b.r") == F.col("a.r") + 1, "left")
        .filter(F.col("a.r") <= GT_MAX_R)
        .select(
            F.col("a.r").alias("r"),
            F.col("a.n_r").alias("n_r"),
            F.round(
                (F.col("a.r") + 1.0)
                * F.coalesce(F.col("b.n_r"), F.lit(0))
                / F.col("a.n_r"),
                6,
            ).alias("r_star"),
        )
    )


# ---------------------------------------------------------------------------
# lm: Dirichlet-prior smoothed query likelihood
# ---------------------------------------------------------------------------

DIR_MU = 2000  # Dirichlet prior mass (the Zhai & Lafferty default range)
DIR_TERMS = ("table", "query", "stream")


def _dirichlet_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf{i}"
        for i, t in enumerate(DIR_TERMS, 1)
    )
    cf_cols = ", ".join(
        f"CAST(SUM(tf{i}) AS DOUBLE) AS cf{i}" for i in range(1, 4)
    )
    ll = " + ".join(
        f"""LN((tf{i} + {DIR_MU} * cf{i} / clen)
               / (dl + {DIR_MU}))"""
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
            SELECT CAST(SUM(dl) AS DOUBLE) AS clen, {cf_cols} FROM per_doc
        )
        SELECT doc_id, dl, tf1, tf2, tf3,
               ROUND({ll}, 6) AS query_loglik
        FROM per_doc, corpus
    """


@query(
    "text_lm_dirichlet_prior",
    oracle=_dirichlet_sql(),
    tags=("text", "lm", "documents"),
)
def text_lm_dirichlet_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRICHLET-PRIOR smoothed query log-likelihood (μ=2000): each
    document scores a fixed 3-term query under (tf + μ·cf/|C|)/(dl+μ)
    — the length-adaptive smoothing of Zhai & Lafferty that shrinks
    SHORT documents toward the collection model harder than long ones
    (fixed-interpolation sibling: ``text_lm_jelinek_mercer``, r08
    window; absolute discounting: ``text_lm_absolute_discount``). All
    counts exact integers; the log-likelihood is one fixed-order
    3-term float expression per row against a 1-row broadcast of
    collection stats — the family's bit-stability discipline. One
    token pass, one aggregate, no sort; at 100 TB the corpus CTE is a
    map-side-combined 1-row frame regardless of document count."""
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(DIR_TERMS, 1)
        ],
    )
    corpus = per_doc.agg(
        F.sum("dl").cast("double").alias("clen"),
        *[F.sum(f"tf{i}").cast("double").alias(f"cf{i}") for i in range(1, 4)],
    )
    ll = None
    for i in range(1, 4):
        term = F.log(
            (F.col(f"tf{i}") + DIR_MU * F.col(f"cf{i}") / F.col("clen"))
            / (F.col("dl") + DIR_MU)
        )
        ll = term if ll is None else ll + term
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id", "dl", "tf1", "tf2", "tf3",
        F.round(ll, 6).alias("query_loglik"),
    )


# ---------------------------------------------------------------------------
# text/lm: Kneser-Ney unigram continuation probability
# ---------------------------------------------------------------------------

KN_TERMS = ("table", "query", "stream")


def _kn_sql() -> str:
    legs = "\n        UNION ALL\n        ".join(
        f"""SELECT '{t}' AS term,
                   (SELECT CAST(COUNT(DISTINCT w_prev) AS BIGINT)
                    FROM bigrams WHERE w_next = '{t}') AS cont_types,
                   t.n_bigram_types,
                   t.n_tokens,
                   (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM toks WHERE tok = '{t}') AS unigram_count
            FROM totals t"""
        for t in KN_TERMS
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok,
                   CAST(generate_subscripts(
                       list_filter(string_split(text, ' '), t -> t <> ''), 1)
                       AS BIGINT) AS pos
            FROM documents
        ),
        bigrams AS (
            SELECT DISTINCT a.tok AS w_prev, b.tok AS w_next
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        totals AS (
            SELECT CAST((SELECT COUNT(*) FROM bigrams) AS BIGINT)
                       AS n_bigram_types,
                   CAST((SELECT COUNT(*) FROM toks) AS BIGINT) AS n_tokens
        )
        SELECT term, cont_types, n_bigram_types,
               ROUND(CAST(cont_types AS DOUBLE) / n_bigram_types, 6)
                   AS p_continuation,
               ROUND(CAST(unigram_count AS DOUBLE) / n_tokens, 6) AS p_mle
        FROM ({legs})
    """


@query(
    "text_lm_kneser_ney_unigram",
    oracle=_kn_sql(),
    tags=("text", "lm", "documents"),
)
def text_lm_kneser_ney_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY CONTINUATION probability for the query terms:
    P_cont(w) = |{w′ : (w′,w) seen}| / |distinct bigram types| — the
    insight that makes KN the strongest classical n-gram smoothing
    ("Francisco" is frequent but follows only "San", so its continuation
    mass is tiny), contrasted against the raw unigram MLE in the same
    row. Bigram types form via a position self-join (pos+1 — positions
    from ``posexplode``/``generate_subscripts``, never a scan-order
    ROW_NUMBER); all counts exact integers; the two probabilities are
    single divisions. One token pass + one keyed self-join; output = 3
    rows at any SF (smoothing family: ``text_lm_jelinek_mercer``,
    ``text_lm_dirichlet_prior``, ``text_lm_absolute_discount``,
    ``text_lm_good_turing``)."""
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok"),
    )
    a = toks.select("doc_id", F.col("pos").alias("pa"), F.col("tok").alias("w_prev"))
    b = toks.select("doc_id", F.col("pos").alias("pb"), F.col("tok").alias("w_next"))
    bigrams = (
        a.join(b, "doc_id")
        .filter(F.col("pb") == F.col("pa") + 1)
        .select("w_prev", "w_next")
        .distinct()
        .persist()
    )
    totals = bigrams.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigram_types")
    ).crossJoin(
        toks.agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    )
    legs = []
    for t in KN_TERMS:
        cont = bigrams.filter(F.col("w_next") == t).agg(
            F.countDistinct("w_prev").cast("bigint").alias("cont_types")
        )
        uni = toks.filter(F.col("tok") == t).agg(
            F.count(F.lit(1)).cast("bigint").alias("unigram_count")
        )
        legs.append(
            cont.crossJoin(F.broadcast(totals)).crossJoin(F.broadcast(uni))
            .select(
                F.lit(t).alias("term"),
                "cont_types",
                "n_bigram_types",
                F.round(
                    F.col("cont_types").cast("double")
                    / F.col("n_bigram_types"),
                    6,
                ).alias("p_continuation"),
                F.round(
                    F.col("unigram_count").cast("double") / F.col("n_tokens"),
                    6,
                ).alias("p_mle"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out

# ---------------------------------------------------------------------------
# lm: Witten-Bell smoothed query likelihood
# ---------------------------------------------------------------------------

WB_TERMS = ("data", "the", "stream")  # all present at every SF (cf > 0)


def _eq(term: str):
    # Single-arg lambda factory: F.filter treats a TWO-arg lambda as
    # (element, index), so the default-arg capture idiom would bind the
    # positional index, not the closed-over term.
    return lambda t: t == term


def _pair_eq(a: str, b: str):
    return lambda p: (p["a"] == a) & (p["b"] == b)


def _witten_bell_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(l, t -> t = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(WB_TERMS, 1)
    )
    cf_cols = ", ".join(
        f"CAST(SUM(tf{i}) AS DOUBLE) AS cf{i}"
        for i in range(1, len(WB_TERMS) + 1)
    )
    # cf{i} > 0 guard (r09 ADVICE): if a probe term ever had zero corpus
    # frequency the LN argument is 0 — DuckDB raises Out of Range while
    # Spark yields NULL. tf > 0 implies cf > 0 (cf = Σ tf), so guarding
    # on cf alone covers the argument; a vocabulary shift now degrades
    # to a NULL-vs-NULL match instead of an oracle crash.
    ll = " + ".join(
        f"CASE WHEN cf{i} > 0"
        f" THEN LN((tf{i} + u_types * cf{i} / clen) / (dl + u_types))"
        f" ELSE NULL END"
        for i in range(1, len(WB_TERMS) + 1)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ),
        pd AS (
            SELECT doc_id,
                   CAST(len(l) AS BIGINT)                AS dl,
                   CAST(len(list_distinct(l)) AS BIGINT) AS u_types,
                   {tf_cols}
            FROM toks WHERE len(l) > 0
        ),
        corpus AS (
            SELECT CAST(SUM(dl) AS DOUBLE) AS clen, {cf_cols} FROM pd
        )
        SELECT doc_id, dl, u_types,
               {", ".join(f"tf{i}" for i in range(1, len(WB_TERMS) + 1))},
               ROUND({ll}, 6) AS query_loglik
        FROM pd, corpus
    """


@query(
    "text_lm_witten_bell",
    oracle=_witten_bell_sql(),
    tags=("text", "lm", "documents"),
)
def text_lm_witten_bell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITTEN-BELL smoothed query log-likelihood: the interpolation
    weight adapts to each document's lexical DIVERSITY — λ_d =
    dl/(dl + U_d) with U_d the distinct-type count, so a repetitive
    document (few types) trusts the collection model more than a
    varied one of the same length. Algebraically P(w|d) =
    (tf + U_d·cf/|C|)/(dl + U_d): the Dirichlet-prior shape
    (``text_lm_dirichlet_prior``) with μ replaced by the PER-DOCUMENT
    type count — completing the smoothing family (JM: fixed λ; AD:
    subtracted mass; Dirichlet: fixed prior; WB: diversity prior;
    GT/KN: count reallocation). All counts exact integers computed
    ARRAY-SIDE (len/list_filter/list_distinct — the token list never
    explodes, no shuffle on the token); the log-likelihood is one
    fixed-order 3-term float expression per row against a 1-row
    broadcast of collection stats. One scan, one |docs|-row aggregate,
    one 1-row aggregate; at 100 TB nothing but (doc_id, 6 ints)
    shuffles."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select("doc_id", tokens_col(F.col("text")).alias("l")).filter(
        F.size("l") > 0
    )
    per_doc = toks.select(
        "doc_id",
        F.size("l").cast("bigint").alias("dl"),
        F.size(F.array_distinct("l")).cast("bigint").alias("u_types"),
        *[
            F.size(F.filter("l", _eq(t))).cast("bigint").alias(f"tf{i}")
            for i, t in enumerate(WB_TERMS, 1)
        ],
    )
    corpus = per_doc.agg(
        F.sum("dl").cast("double").alias("clen"),
        *[
            F.sum(f"tf{i}").cast("double").alias(f"cf{i}")
            for i in range(1, len(WB_TERMS) + 1)
        ],
    )
    ll = None
    for i in range(1, len(WB_TERMS) + 1):
        # Same cf > 0 guard as the oracle: an unseen corpus term yields
        # NULL on both engines rather than Spark-NULL vs DuckDB-crash.
        term = F.when(
            F.col(f"cf{i}") > 0,
            F.log(
                (
                    F.col(f"tf{i}")
                    + F.col("u_types") * F.col(f"cf{i}") / F.col("clen")
                )
                / (F.col("dl") + F.col("u_types"))
            ),
        )
        ll = term if ll is None else ll + term
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "dl",
        "u_types",
        *[f"tf{i}" for i in range(1, len(WB_TERMS) + 1)],
        F.round(ll, 6).alias("query_loglik"),
    )


# ---------------------------------------------------------------------------
# lm: document bigram LM with corpus-unigram stupid backoff
# ---------------------------------------------------------------------------

SB_ALPHA = 0.4  # the Brants et al. (2007) backoff constant
SB_BIGRAMS = (("data", "stream"), ("the", "table"))  # ~6% of docs hit
# each bigram, so both the in-document branch and the backoff branch
# carry real traffic at every SF (verified r09).


def _stupid_backoff_sql() -> str:
    per_doc = []
    for i, (w1, w2) in enumerate(SB_BIGRAMS, 1):
        per_doc.append(
            f"CAST(len(list_filter(l, t -> t = '{w1}')) AS BIGINT) AS tf1_{i}"
        )
        per_doc.append(
            f"CAST(len(list_filter(l, t -> t = '{w2}')) AS BIGINT) AS tfw2_{i}"
        )
        per_doc.append(
            f"""CAST(CASE WHEN len(l) >= 2 THEN len(list_filter(
                    range(len(l) - 1),
                    i -> l[i + 1] = '{w1}' AND l[i + 2] = '{w2}'))
                ELSE 0 END AS BIGINT) AS tf12_{i}"""
        )
    # cf2 > 0 guard on the backoff branch (r09 ADVICE): a zero corpus
    # frequency would make LOG2 raise Out of Range on DuckDB but yield
    # NULL on Spark; guarded, both engines degrade to NULL. tf12 > 0
    # implies tf1 > 0 (the bigram contains w1), so the in-document
    # branch needs no guard.
    score = " + ".join(
        f"""CASE WHEN tf12_{i} > 0
                 THEN LOG2(CAST(tf12_{i} AS DOUBLE) / tf1_{i})
                 WHEN cf2_{i} > 0
                 THEN LOG2({SB_ALPHA} * cf2_{i} / clen)
                 ELSE NULL END"""
        for i in range(1, len(SB_BIGRAMS) + 1)
    )
    cf_cols = ", ".join(
        f"CAST(SUM(tfw2_{i}) AS DOUBLE) AS cf2_{i}"
        for i in range(1, len(SB_BIGRAMS) + 1)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ),
        pd AS (
            SELECT doc_id, CAST(len(l) AS BIGINT) AS dl, {", ".join(per_doc)}
            FROM toks WHERE len(l) > 0
        ),
        corpus AS (SELECT CAST(SUM(dl) AS DOUBLE) AS clen, {cf_cols} FROM pd)
        SELECT doc_id, tf12_1, tf1_1, tf12_2, tf1_2,
               ROUND({score}, 6) + 0 AS sb_log2
        FROM pd, corpus
    """


@query(
    "text_lm_stupid_backoff",
    oracle=_stupid_backoff_sql(),
    tags=("text", "lm", "documents"),
)
def text_lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STUPID BACKOFF (Brants et al. 2007) — the web-scale LM rule that
    skips discounting entirely: score a fixed 2-bigram query per
    document as S(w2|w1,d) = tf12/tf1 when the DOCUMENT contains the
    bigram, else α·cf(w2)/|C| backing off to the CORPUS unigram
    (α=0.4). The branchy CASE is the operator's whole point — at web
    scale normalized discounting (KN) costs a join per order, stupid
    backoff costs none. Counts are computed ARRAY-SIDE on both engines
    (Spark filter(sequence)/slice-zip vs DuckDB list_filter over
    range — independent positional formulations); the text never
    shuffles. One |docs|-row aggregate + a 1-row corpus broadcast; the
    per-row score is one fixed-order 2-term float expression, oracle
    ``+ 0``-guarded (a doc scoring exactly 0 would round to DuckDB
    -0.0). 100 TB: identical plan, bigger scan."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select("doc_id", tokens_col(F.col("text")).alias("l")).filter(
        F.size("l") > 0
    )
    n = F.size("l")
    cols = [F.col("doc_id"), n.cast("bigint").alias("dl")]
    for i, (w1, w2) in enumerate(SB_BIGRAMS, 1):
        cols.append(
            F.size(F.filter("l", _eq(w1))).cast("bigint").alias(f"tf1_{i}")
        )
        cols.append(
            F.size(F.filter("l", _eq(w2))).cast("bigint").alias(f"tfw2_{i}")
        )
        pairs = F.arrays_zip(
            F.slice(F.col("l"), 1, n - 1).alias("a"),
            F.slice(F.col("l"), 2, n - 1).alias("b"),
        )
        hit = F.size(F.filter(pairs, _pair_eq(w1, w2)))
        cols.append(
            F.when(n >= 2, hit).otherwise(F.lit(0)).cast("bigint").alias(f"tf12_{i}")
        )
    per_doc = toks.select(*cols)
    corpus = per_doc.agg(
        F.sum("dl").cast("double").alias("clen"),
        *[
            F.sum(f"tfw2_{i}").cast("double").alias(f"cf2_{i}")
            for i in range(1, len(SB_BIGRAMS) + 1)
        ],
    )
    score = None
    for i in range(1, len(SB_BIGRAMS) + 1):
        # Mirrors the oracle's guarded CASE: backoff only when cf2 > 0,
        # NULL otherwise (see the guard rationale in the SQL builder).
        term = F.when(
            F.col(f"tf12_{i}") > 0,
            F.log2(F.col(f"tf12_{i}").cast("double") / F.col(f"tf1_{i}")),
        ).when(
            F.col(f"cf2_{i}") > 0,
            F.log2(SB_ALPHA * F.col(f"cf2_{i}") / F.col("clen")),
        )
        score = term if score is None else score + term
    return per_doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id", "tf12_1", "tf1_1", "tf12_2", "tf1_2",
        F.round(score, 6).alias("sb_log2"),
    )


# ---------------------------------------------------------------------------
# lm: held-out perplexity under the train-fold unigram LM
# ---------------------------------------------------------------------------

HELDOUT_FOLDS = 5  # md5(doc_id) % 5 == 0 -> held-out (20%)


@query(
    "text_lm_heldout_perplexity",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % {HELDOUT_FOLDS} = 0 AS held_out
            FROM documents
        ),
        train_tok AS (
            SELECT UNNEST(l) AS tok FROM d WHERE NOT held_out
        ),
        vocab AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM train_tok
            GROUP BY tok
        ),
        consts AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_train,
                   CAST(COUNT(*) AS BIGINT) AS v_train
            FROM vocab
        ),
        held_tok AS (
            SELECT doc_id, source, UNNEST(l) AS tok,
                   CAST(generate_subscripts(l, 1) AS BIGINT) AS pos
            FROM d WHERE held_out AND len(l) > 0
        ),
        -- per-doc mean via the SEQUENTIAL pos-ordered fold: rounding
        -- an engine-side cross-row AVG of logs is the r06 red-row
        -- class (plan/thread order flips the last ULP under ROUND)
        per_doc AS (
            SELECT doc_id, source,
                   CAST(COUNT(*) AS BIGINT) AS dl,
                   ROUND(list_sum(list(LOG2(COALESCE(v.cnt, 0) + 1)
                                       ORDER BY pos)) / COUNT(*)
                         - LOG2((SELECT n_train + v_train + 1 FROM consts)),
                         6) AS avg_log2p
            FROM held_tok h LEFT JOIN vocab v ON v.tok = h.tok
            GROUP BY doc_id, source
        ),
        per_source AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   list_sum(list(avg_log2p ORDER BY doc_id)) AS s
            FROM per_doc GROUP BY source
        )
        SELECT source, n_docs,
               ROUND(s / n_docs, 6) + 0                AS mean_doc_log2p,
               ROUND(POWER(2.0, -(s / n_docs)), 4)     AS perplexity
        FROM per_source
    """,
    tags=("text", "lm", "documents"),
)
def text_lm_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT PERPLEXITY — the LM-family EVALUATION harness: split
    documents by the portable md5 key (20% held out), fit an add-one
    unigram LM on the TRAIN folds only, and score the held-out docs a
    trained model has never seen — the measurement that turns the
    smoothing family (JM/AD/Dirichlet/WB/GT/KN carriers) from
    formulas into a comparable number, and the quality gate every
    corpus-curation loop runs per source. Unseen tokens get the
    add-one floor (COALESCE to 0 via LEFT JOIN — the join MUST be
    outer or unseen-token docs silently lose tokens). Per-doc mean
    log-prob splits as Σlog2(c+1)/dl − log2(N+V+1) so the constant
    joins once per doc, with the Σ reduced via the POS-ordered fold
    and the per-SOURCE mean via the doc_id-ordered fold (both are
    cross-row float sums — the r06 ROUND-flip hazard); signed →
    ``+ 0``. Two counting aggregations + one broadcast probe join
    (the vocab pass persisted — it feeds both the probe and the
    denominator); at 100 TB the probe co-partitions with the count."""
    from big_data_audio_classification_spark.operators.dedup import (
        token_hash,
        tokens_col,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        tokens_col(F.col("text")).alias("l"),
        (
            token_hash(F.col("doc_id").cast("string")) % HELDOUT_FOLDS == 0
        ).alias("held_out"),
    )
    train_tok = d.filter(~F.col("held_out")).select(
        F.explode("l").alias("tok")
    )
    # localCheckpoint: the broadcast probe join AND the denom aggregate
    # both read this heaviest pass (full tokenize + token-count
    # shuffle) — the ml_pca_variance_contract double-execution
    # precedent. eager=True instead of a bare persist() so the blocks
    # are released by the context cleaner on GC rather than pinned in
    # executor storage for the rest of a 600-query sweep (r09 ADVICE).
    vocab = train_tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).localCheckpoint(eager=True)
    consts = vocab.agg(
        (F.sum("cnt") + F.count(F.lit(1)) + 1).cast("bigint").alias("denom")
    )
    held_tok = d.filter(F.col("held_out") & (F.size("l") > 0)).select(
        "doc_id", "source", F.posexplode("l").alias("pos0", "tok")
    ).select(
        "doc_id", "source", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    # per-doc mean via the pos-ordered fold (see oracle comment)
    log2v = F.log2(F.coalesce(F.col("cnt"), F.lit(0)) + 1)
    ordered_logs = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "lv"))),
        lambda s: s["lv"],
    )
    per_doc = (
        held_tok.join(F.broadcast(vocab), "tok", "left")
        .select("doc_id", "source", "pos", log2v.alias("lv"))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dl"),
            F.aggregate(ordered_logs, F.lit(0.0), lambda a, x: a + x).alias(
                "lsum"
            ),
        )
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            "source",
            F.round(
                F.col("lsum") / F.col("dl") - F.log2(F.col("denom")), 6
            ).alias("avg_log2p"),
        )
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("doc_id", "avg_log2p"))),
        lambda s: s["avg_log2p"],
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.aggregate(ordered, F.lit(0.0), lambda a, v: a + v).alias("s"),
    )
    mean = F.col("s") / F.col("n_docs")
    return per_source.select(
        "source",
        "n_docs",
        F.round(mean, 6).alias("mean_doc_log2p"),
        F.round(F.pow(F.lit(2.0), -mean), 4).alias("perplexity"),
    )

# ---------------------------------------------------------------------------
# lm: add-k (Laplace / Lidstone) smoothed query log-likelihood
# ---------------------------------------------------------------------------

ADDK_K = 0.5  # Lidstone's half — the Jeffreys-prior member of the family
ADDK_TERMS = ("data", "query")


def _addk_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(l, t -> t = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(ADDK_TERMS, 1)
    )
    ll = " + ".join(
        f"LN((tf{i} + {ADDK_K}) / (dl + {ADDK_K} * vsize))"
        for i in range(1, len(ADDK_TERMS) + 1)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ),
        pd AS (
            SELECT doc_id, CAST(len(l) AS BIGINT) AS dl, {tf_cols}
            FROM toks WHERE len(l) > 0
        ),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vsize
            FROM (SELECT UNNEST(l) AS tok FROM toks)
        )
        SELECT doc_id, dl,
               {", ".join(f"tf{i}" for i in range(1, len(ADDK_TERMS) + 1))},
               ROUND({ll}, 6) AS query_loglik
        FROM pd, vocab
    """


@query("text_lm_laplace_addk", oracle=_addk_sql(), tags=("text", "lm", "documents"))
def text_lm_laplace_addk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-k (Lidstone, k=0.5) smoothed query log-likelihood — the
    oldest smoothing rule in the family ledger (JM: fixed λ; Dirichlet:
    fixed prior; WB: diversity prior; GT/KN: count reallocation;
    add-k: flat pseudo-count): P(w|d) = (tf + k)/(dl + k·V) with V the
    CORPUS vocabulary size. Unlike the log-guarded WB/backoff
    smoothers, the argument is strictly positive by construction
    (tf + k >= k > 0), so no vocabulary shift can ever zero it — this
    carrier pins the family's no-guard-needed base case. Counts are
    exact integers computed ARRAY-SIDE (the token list never explodes
    for tf; V needs one distinct-token aggregate); the log-likelihood
    is one fixed-order 2-term float expression per row against a 1-row
    broadcast. 100 TB: one scan + one |docs|-row project + one
    distinct-token aggregate (map-side combinable)."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select("doc_id", tokens_col(F.col("text")).alias("l")).filter(
        F.size("l") > 0
    )
    per_doc = toks.select(
        "doc_id",
        F.size("l").cast("bigint").alias("dl"),
        *[
            F.size(F.filter("l", _eq(t))).cast("bigint").alias(f"tf{i}")
            for i, t in enumerate(ADDK_TERMS, 1)
        ],
    )
    vocab = (
        d.select(
            F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .agg(F.countDistinct("tok").cast("double").alias("vsize"))
    )
    ll = None
    for i in range(1, len(ADDK_TERMS) + 1):
        term = F.log(
            (F.col(f"tf{i}") + F.lit(ADDK_K))
            / (F.col("dl") + F.lit(ADDK_K) * F.col("vsize"))
        )
        ll = term if ll is None else ll + term
    return per_doc.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        "dl",
        *[f"tf{i}" for i in range(1, len(ADDK_TERMS) + 1)],
        F.round(ll, 6).alias("query_loglik"),
    )


# ---------------------------------------------------------------------------
# lm: source-vs-corpus unigram log-likelihood ratio (domain LM score)
# ---------------------------------------------------------------------------

LLR_TERMS = ("data", "table")


def _llr_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(l, t -> t = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(LLR_TERMS, 1)
    )
    scf_cols = ", ".join(
        f"CAST(SUM(tf{i}) AS BIGINT) AS scf{i}"
        for i in range(1, len(LLR_TERMS) + 1)
    )
    ccf_cols = ", ".join(
        f"CAST(SUM(scf{i}) AS BIGINT) AS ccf{i}"
        for i in range(1, len(LLR_TERMS) + 1)
    )
    llr = " + ".join(
        f"tf{i} * (LOG2((scf{i} + 1.0) / (slen + vsize))"
        f" - LOG2((ccf{i} + 1.0) / (clen + vsize)))"
        for i in range(1, len(LLR_TERMS) + 1)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ),
        pd AS (
            SELECT doc_id, source, CAST(len(l) AS BIGINT) AS dl, {tf_cols}
            FROM toks WHERE len(l) > 0
        ),
        src AS (
            SELECT source, CAST(SUM(dl) AS BIGINT) AS slen, {scf_cols}
            FROM pd GROUP BY source
        ),
        corpus AS (
            SELECT CAST(SUM(slen) AS BIGINT) AS clen, {ccf_cols} FROM src
        ),
        vocab AS (
            SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vsize
            FROM (SELECT UNNEST(l) AS tok FROM toks)
        )
        SELECT pd.doc_id, pd.source,
               {", ".join(f"tf{i}" for i in range(1, len(LLR_TERMS) + 1))},
               ROUND({llr}, 6) + 0 AS domain_llr
        FROM pd JOIN src ON pd.source = src.source, corpus, vocab
    """


@query("text_lm_source_loglik_ratio", oracle=_llr_sql(), tags=("text", "lm", "documents"))
def text_lm_source_loglik_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-vs-BACKGROUND unigram log-likelihood ratio — the
    in-domain data-selection score of Moore & Lewis (ACL 2010): each
    document scores Σ tf·(log2 P_src(w) − log2 P_corpus(w)) under its
    OWN source's add-one unigram LM vs the corpus LM. Positive = the
    probe terms are source-typical; the score family is the standard
    pretraining-corpus curation filter. All counts exact integers
    (array-side tf; source/corpus totals via two keyed aggregates);
    per-row LLR is ONE fixed-order float expression from six exact
    integers + two broadcast scalars, ``+ 0``-guarded (tf=0 rows score
    exactly 0 → DuckDB ROUND could emit -0.0). 100 TB: the source
    aggregate is |sources| rows, broadcast back — nothing but
    (doc_id, source, 2 ints) ever shuffles."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(
        "doc_id", "source", tokens_col(F.col("text")).alias("l")
    ).filter(F.size("l") > 0)
    per_doc = toks.select(
        "doc_id",
        "source",
        F.size("l").cast("bigint").alias("dl"),
        *[
            F.size(F.filter("l", _eq(t))).cast("bigint").alias(f"tf{i}")
            for i, t in enumerate(LLR_TERMS, 1)
        ],
    )
    src = per_doc.groupBy("source").agg(
        F.sum("dl").cast("bigint").alias("slen"),
        *[
            F.sum(f"tf{i}").cast("bigint").alias(f"scf{i}")
            for i in range(1, len(LLR_TERMS) + 1)
        ],
    )
    corpus = src.agg(
        F.sum("slen").cast("bigint").alias("clen"),
        *[
            F.sum(f"scf{i}").cast("bigint").alias(f"ccf{i}")
            for i in range(1, len(LLR_TERMS) + 1)
        ],
    )
    vocab = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("vsize"))
    )
    llr = None
    for i in range(1, len(LLR_TERMS) + 1):
        term = F.col(f"tf{i}") * (
            F.log2(
                (F.col(f"scf{i}") + F.lit(1.0))
                / (F.col("slen") + F.col("vsize"))
            )
            - F.log2(
                (F.col(f"ccf{i}") + F.lit(1.0))
                / (F.col("clen") + F.col("vsize"))
            )
        )
        llr = term if llr is None else llr + term
    return (
        per_doc.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "source",
            *[f"tf{i}" for i in range(1, len(LLR_TERMS) + 1)],
            F.round(llr, 6).alias("domain_llr"),
        )
    )


# ---------------------------------------------------------------------------
# lm: bigram out-of-vocabulary (coverage) rate against the corpus model
# ---------------------------------------------------------------------------

OOV_MIN_DOCS = 2  # a bigram is "in vocabulary" if seen in >= 2 documents


def _bigram_oov_sql() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS l
            FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   UNNEST(list_transform(
                       range(len(l) - 1),
                       i -> l[i + 1] || ' ' || l[i + 2])) AS bigram
            FROM toks WHERE len(l) >= 2
        ),
        vocab AS (
            SELECT bigram
            FROM bg GROUP BY bigram
            HAVING COUNT(DISTINCT doc_id) >= {OOV_MIN_DOCS}
        ),
        per_doc AS (
            SELECT bg.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(CASE WHEN v.bigram IS NULL THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_covered
            FROM bg LEFT JOIN vocab v ON bg.bigram = v.bigram
            GROUP BY bg.doc_id
        )
        SELECT t.doc_id,
               COALESCE(p.n_bigrams, 0) AS n_bigrams,
               COALESCE(p.n_covered, 0) AS n_covered,
               CASE WHEN p.n_bigrams > 0
                    THEN ROUND(1.0 - CAST(p.n_covered AS DOUBLE)
                               / p.n_bigrams, 6) + 0
                    ELSE NULL END AS oov_rate
        FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """


@query("text_lm_bigram_oov_rate", oracle=_bigram_oov_sql(), tags=("text", "lm", "documents"))
def text_lm_bigram_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM OOV RATE against the corpus bigram vocabulary — the LM
    evaluation axis the smoothing family presumes: how much of each
    document's bigram stream is COVERED by bigrams attested in >= 2
    distinct documents (a bigram always attests itself, so the >= 2
    floor makes coverage mean 'seen elsewhere'). High OOV = the
    document the n-gram LM will serve worst, and the standard
    contamination/novelty triage in corpus curation. Adjacent bigrams
    via the house positional formulation (Spark slice+arrays_zip vs
    DuckDB list_transform(range)); the vocabulary is one
    doc-distinct-count aggregate; coverage is a LEFT JOIN + exact
    counts; oov_rate is one float division, ``+ 0``-guarded (a fully
    covered document rounds to exactly 0). Documents with < 2 tokens
    survive with n_bigrams=0 / NULL rate via the outer join — a
    coverage oracle must never drop rows. 100 TB: the occurrence
    stream collapses map-side to (doc, bigram, cnt) in one combined
    aggregate (checkpointed, shared by vocab + probe); only collapsed
    rows shuffle — once keyed on the bigram for the vocab, once for
    the probe join, AQE-coalesced."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select("doc_id", tokens_col(F.col("text")).alias("l"))
    n = F.size("l")
    bg = toks.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("l"), 1, n - 1),
                F.slice(F.col("l"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    # Collapse the occurrence stream to per-(doc, bigram) counts ONCE
    # (r10): the map-side-combined groupBy shrinks both downstream
    # shuffles (duplicate in-document bigrams stop shuffling), the
    # vocab distinct-doc count becomes a plain count(*) (rows are
    # (doc, bigram)-distinct by construction — no distinct-agg state),
    # and the checkpoint lets the vocab aggregate AND the probe join
    # share one materialization instead of re-running scan+explode.
    # n_bigrams = sum(cnt) and n_covered = sum(cnt * covered) regroup
    # the same exact integers the per-occurrence form counted.
    bgc = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        bgc.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= OOV_MIN_DOCS)
        .select("bigram")
    )
    per_doc = (
        bgc.join(vocab.withColumn("hit", F.lit(1)), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("hit").isNull(), 0).otherwise(F.col("cnt")))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        toks.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("n_covered", F.lit(0)).cast("bigint").alias("n_covered"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(
                    1.0 - F.col("n_covered").cast("double") / F.col("n_bigrams"),
                    6,
                ),
            ).alias("oov_rate"),
        )
    )

# ---------------------------------------------------------------------------
# lm: per-source KL divergence from the corpus unigram model
# ---------------------------------------------------------------------------


@query(
    "text_lm_kl_source_divergence",
    oracle="""
        WITH toks AS (
            SELECT source,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ),
        sc AS (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS scnt
            FROM toks GROUP BY source, tok
        ),
        cc AS (
            SELECT tok, CAST(SUM(scnt) AS BIGINT) AS ccnt FROM sc GROUP BY tok
        ),
        slen AS (
            SELECT source, CAST(SUM(scnt) AS BIGINT) AS slen
            FROM sc GROUP BY source
        ),
        clen AS (SELECT CAST(SUM(ccnt) AS BIGINT) AS clen FROM cc),
        terms AS (
            SELECT sc.source,
                   sc.tok,
                   (CAST(sc.scnt AS DOUBLE) / slen.slen)
                   * LOG2((CAST(sc.scnt AS DOUBLE) / slen.slen)
                          / (CAST(cc.ccnt AS DOUBLE) / clen.clen)) AS t
            FROM sc JOIN cc ON sc.tok = cc.tok
                 JOIN slen ON sc.source = slen.source, clen
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               ROUND(list_sum(list(t ORDER BY tok)), 6) + 0 AS kl_bits
        FROM terms GROUP BY source
    """,
    tags=("text", "lm", "documents"),
)
def text_lm_kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE KL DIVERGENCE D(P_src ‖ P_corpus) over the full
    vocabulary — the corpus-curation drift score (a source whose
    unigram distribution diverges from the pool is the one to
    re-weight or audit; the source-LEVEL sibling of the per-document
    Moore-Lewis LLR). KL is finite by construction: every source term
    occurs in the corpus (P_corpus > 0 wherever P_src > 0), so no log
    guard is needed — the support-inclusion argument is the
    docstring's contract, not a runtime CASE. Every count is an exact
    integer from two keyed aggregates; each term is ONE fixed-order
    float expression; the cross-term sum folds tok-ordered (the house
    ordered-fold discipline), ``+ 0``-guarded (a single-source corpus
    gives exactly 0). 100 TB: two token-keyed map-side-combinable
    aggregates + a broadcast of |sources| and 1-row totals; terms
    shuffle once keyed by source."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    sc = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("scnt")
    )
    cc = sc.groupBy("tok").agg(F.sum("scnt").cast("bigint").alias("ccnt"))
    slen = sc.groupBy("source").agg(
        F.sum("scnt").cast("bigint").alias("slen")
    )
    clen = cc.agg(F.sum("ccnt").cast("bigint").alias("clen"))
    p_s = F.col("scnt").cast("double") / F.col("slen")
    p_c = F.col("ccnt").cast("double") / F.col("clen")
    terms = (
        sc.join(cc, "tok")
        .join(F.broadcast(slen), "source")
        .crossJoin(F.broadcast(clen))
        .select("source", "tok", (p_s * F.log2(p_s / p_c)).alias("t"))
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("tok", "t"))), lambda s: s["t"]
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(
            F.aggregate(ordered, F.lit(0.0), lambda a, x: a + x), 6
        ).alias("kl_bits"),
    )


# ---------------------------------------------------------------------------
# lm: per-document surprisal profile under the corpus unigram model
# ---------------------------------------------------------------------------


@query(
    "text_lm_token_surprisal_profile",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS tok,
                   CAST(generate_subscripts(
                        list_filter(string_split(text, ' '), t -> t <> ''), 1)
                        AS BIGINT) AS pos
            FROM documents
        ),
        cf AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
        ),
        clen AS (SELECT CAST(SUM(cnt) AS BIGINT) AS clen FROM cf),
        sur AS (
            SELECT t.doc_id, t.pos,
                   -LOG2(CAST(cf.cnt AS DOUBLE) / clen.clen) AS s
            FROM toks t JOIN cf ON t.tok = cf.tok, clen
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS dl,
               ROUND(list_sum(list(s ORDER BY pos)) / COUNT(*), 6)
                   AS mean_surprisal,
               ROUND(MAX(s), 6) AS max_surprisal
        FROM sur GROUP BY doc_id
    """,
    tags=("text", "lm", "documents"),
)
def text_lm_token_surprisal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOCUMENT SURPRISAL profile under the corpus unigram LM —
    mean and peak −log2 P(token), the per-token complexity signal
    quality filters threshold on (high mean surprisal = rare-token
    soup ≈ noise or novelty; the peak flags single out-of-place
    tokens). Unlike ``text_lm_heldout_perplexity`` there is no fold
    split — the corpus scores itself, so every token's probability is
    strictly positive (its own occurrence counts), and no smoothing or
    guard is needed: the maximum-likelihood base case of the LM
    evaluation family. Counts exact; each surprisal is one float
    expression; the per-doc mean folds POSITION-ordered (the
    heldout-perplexity discipline — an engine-order sum over equal
    tokens would tie-break differently), max is order-free. 100 TB:
    one token-keyed aggregate + a broadcast probe join; (doc, pos,
    float) shuffles once keyed by doc."""
    d = load_table(spark, sf_dir, "documents")
    from big_data_audio_classification_spark.operators.dedup import tokens_col

    toks = d.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    clen = cf.agg(F.sum("cnt").cast("bigint").alias("clen"))
    s = -F.log2(F.col("cnt").cast("double") / F.col("clen"))
    sur = (
        toks.join(F.broadcast(cf), "tok")
        .crossJoin(F.broadcast(clen))
        .select("doc_id", "pos", s.alias("s"))
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda x: x["s"]
    )
    return sur.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"),
        F.round(
            F.aggregate(ordered, F.lit(0.0), lambda a, x: a + x)
            / F.count(F.lit(1)),
            6,
        ).alias("mean_surprisal"),
        F.round(F.max("s"), 6).alias("max_surprisal"),
    )


AD_DISCOUNT_NUM = 3  # absolute discount D = 3/4 (exact rational)
AD_DISCOUNT_DEN = 4
AD_PROBE_TOP = 12    # report the most frequent bigrams


@query(
    "text_lm_absolute_discount",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(list_filter(string_split(text, ' '),
                          t -> t <> '')) AS tok,
                   CAST(generate_subscripts(
                       list_filter(string_split(text, ' '), t -> t <> ''), 1)
                       AS BIGINT) AS pos
            FROM documents
        ),
        bi AS (
            SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS c12
            FROM toks a JOIN toks b
              ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            GROUP BY a.tok, b.tok
        ),
        uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        ctx AS (
            SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1plus
            FROM bi GROUP BY w1
        ),
        tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni)
        SELECT bi.w1, bi.w2,
               CAST(bi.c12 AS BIGINT) AS c12,
               ROUND(
                   GREATEST(bi.c12 - {AD_DISCOUNT_NUM}/{AD_DISCOUNT_DEN}.0,
                            0.0) / ctx.c1
                   + ({AD_DISCOUNT_NUM}/{AD_DISCOUNT_DEN}.0) * ctx.n1plus
                     / ctx.c1 * uni.c / tot.n, 6) AS p_ad
        FROM bi
        JOIN ctx ON ctx.w1 = bi.w1
        JOIN uni ON uni.tok = bi.w2
        CROSS JOIN tot
        ORDER BY bi.c12 DESC, bi.w1, bi.w2
        LIMIT {AD_PROBE_TOP}
    """,
    tags=("text", "lm", "documents"),
)
def text_lm_absolute_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABSOLUTE-DISCOUNTING bigram LM (the Kneser-Ney precursor):
    p(w2|w1) = max(c12−D, 0)/c1 + D·N1+(w1)/c1 · p_uni(w2) with the
    exact rational D = 3/4 — mass subtracted from every seen bigram is
    redistributed through the unigram backoff, reported for the top
    bigrams (add-k sibling: ``text_bigram_logprob``, certified r03).
    Three map-side-combined count tables (bigram, context, unigram);
    the Spark bigram derivation is array-side (token array zipped with
    its own tail — no positional self-join), while the oracle derives
    the SAME pairs BY positional self-join: two independent
    formulations cross-check."""
    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split("text", " "), lambda t: t != "")
    pairs = d.select(
        F.explode(
            F.zip_with(
                toks_arr,
                F.slice(toks_arr, 2, F.greatest(F.size(toks_arr) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2").filter(F.col("w2").isNotNull())
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = d.select(F.explode(toks_arr).alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1plus")
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    disc = AD_DISCOUNT_NUM / AD_DISCOUNT_DEN
    p_ad = (
        F.greatest(F.col("c12") - disc, F.lit(0.0)) / F.col("c1")
        + disc * F.col("n1plus") / F.col("c1") * F.col("c") / F.col("n")
    )
    return (
        bi.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(uni.withColumnRenamed("tok", "w2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(p_ad, 6).alias("p_ad"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(AD_PROBE_TOP)
    )
