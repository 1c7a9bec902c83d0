"""Corpus-curation operators for LLM-training-data pipelines: intra-
document repetition signals, benchmark-contamination detection, and a
one-plan end-to-end curation pipeline (quality filter -> exact dedup ->
per-source rollup).

These extend the mandated text-analysis family (SURVEY §2.B) with the
curation moves a 100 TB pre-training pipeline actually performs before
training: drop repetitive documents (Gopher-style repetition signals),
quarantine documents that leak evaluation data (n-gram containment
against a benchmark set), and run the keep/drop decision chain as one
lazy plan instead of N materialized passes.

Scale notes:
* Repetition: per-document array math + one doc_id-keyed explode/agg —
  linear, two co-partitioned shuffles on doc_id.
* Contamination: the benchmark side is tiny by construction (an eval
  set is thousands of docs, the corpus is billions) → shingle-explode
  the corpus linearly and BROADCAST the benchmark shingles; the join is
  a broadcast hash join, never a shuffle of the corpus shingles. At
  100 TB, hash each shingle to a bigint (token_hash) so the broadcast
  and the probe keys are 8 bytes, not strings (done here via md5 for
  engine-portable parity).
* End-to-end: filter -> window-dedup -> agg is one plan; Catalyst
  prunes the text column after the digest is computed, and the only
  shuffles are the digest-keyed dedup exchange and the final rollup.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.functions.ranks import prefix_sums
from big_data_audio_classification_spark.operators.dedup import (
    _SQL_TOKENS,
    tokens_col,
)
from big_data_audio_classification_spark.operators.text import STOPWORDS, _count_in as _count_in_cur
from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

SHINGLE_W = 3  # tokens per contamination shingle. Real pipelines use
# 8-13-gram shingles on natural text; this synthetic corpus draws tokens
# near-independently, so longer shingles never collide across documents
# (0 pairs at W=8) — trigrams are the width with discriminative signal
# here (207 pairs at sf0.01). The operator shape is width-agnostic.
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> stand-in benchmark/eval set


@query(
    "text_repetition_signals",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
        s AS (SELECT doc_id,
                     len(toks)                AS n_tokens,
                     len(list_distinct(toks)) AS n_distinct,
                     list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1]) AS bigrams
              FROM t WHERE len(toks) >= 2),
        e AS (SELECT doc_id, UNNEST(bigrams) AS bg FROM s),
        c AS (SELECT doc_id, bg, COUNT(*) AS n FROM e GROUP BY 1, 2),
        m AS (SELECT doc_id, MAX(n) AS top_n,
                     CAST(SUM(n) AS BIGINT) AS n_bigrams
              FROM c GROUP BY 1)
        SELECT s.doc_id,
               ROUND(1 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_ratio,
               ROUND(CAST(top_n AS DOUBLE) / n_bigrams, 6)         AS top_bigram_frac,
               n_bigrams
        FROM s JOIN m ON s.doc_id = m.doc_id
    """,
    tags=("text", "curation", "documents"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-token
    fraction (1 - type/token ratio) and the fraction of all bigrams
    taken by the single most frequent bigram. High values on either are
    the classic drop signals for boilerplate/spam in pre-training data.

    Plan shape: bigram construction is pure array math (zip_with of the
    token array against itself shifted by one); the most-frequent-bigram
    count needs a per-(doc, bigram) count -> per-doc max, i.e. one
    explode and two aggregations co-partitioned on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    n = F.size("toks")
    stats = base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.zip_with(
            F.slice("toks", F.lit(1), n - 1),
            F.slice("toks", F.lit(2), n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ).alias("bigrams"),
    )
    per_bigram = (
        stats.select("doc_id", F.explode("bigrams").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_doc = per_bigram.groupBy("doc_id").agg(
        F.max("n").alias("top_n"), F.sum("n").alias("n_bigrams")
    )
    return stats.join(per_doc, "doc_id").select(
        "doc_id",
        F.round(1 - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias(
            "dup_token_ratio"
        ),
        F.round(F.col("top_n").cast("double") / F.col("n_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
        "n_bigrams",
    )


@query(
    "text_contamination_overlap",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(
                          range(1, len(toks) - {SHINGLE_W} + 2),
                          i -> array_to_string(toks[i:i+{SHINGLE_W}-1], ' ')
                      )) AS shingles
               FROM t WHERE len(toks) >= {SHINGLE_W}),
        ex AS (SELECT doc_id, UNNEST(shingles) AS sh FROM sh),
        tr AS (SELECT * FROM ex WHERE doc_id % {EVAL_MOD} <> 0),
        ev AS (SELECT * FROM ex WHERE doc_id % {EVAL_MOD} = 0),
        evn AS (SELECT doc_id, COUNT(*) AS n_ev FROM ev GROUP BY 1)
        SELECT tr.doc_id  AS train_doc_id,
               ev.doc_id  AS eval_doc_id,
               COUNT(*)   AS n_shared,
               ROUND(CAST(COUNT(*) AS DOUBLE) / MIN(evn.n_ev), 6) AS containment
        FROM tr
        JOIN ev  ON tr.sh = ev.sh
        JOIN evn ON evn.doc_id = ev.doc_id
        GROUP BY tr.doc_id, ev.doc_id
    """,
    tags=("text", "curation", "contamination", "documents"),
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: for every training document,
    the count and containment fraction of distinct token n-gram shingles
    it shares with any document in the (stand-in) eval set
    (doc_id % {EVAL_MOD} == 0). containment = shared / eval-doc shingles
    — 1.0 means the eval doc is fully embedded in the training doc.

    The corpus side explodes linearly and probes a BROADCAST of the eval
    shingles — no corpus-wide shuffle (the eval set is always tiny
    relative to the corpus). Verified broadcast in tests/test_plans.py."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n = F.size("toks")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - SHINGLE_W + 1),
            lambda i: F.array_join(F.slice("toks", i, SHINGLE_W), " "),
        )
    )
    ex = (
        d.select("doc_id", toks.alias("toks"))
        .filter(n >= SHINGLE_W)
        .select("doc_id", F.explode(shingles).alias("sh"))
    )
    train = ex.filter(F.col("doc_id") % EVAL_MOD != 0).withColumnRenamed(
        "doc_id", "train_doc_id"
    )
    ev = ex.filter(F.col("doc_id") % EVAL_MOD == 0).withColumnRenamed(
        "doc_id", "eval_doc_id"
    )
    evn = ev.groupBy("eval_doc_id").agg(F.count(F.lit(1)).alias("n_ev"))
    return (
        train.join(F.broadcast(ev), "sh")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(F.broadcast(evn), "eval_doc_id")
        .select(
            "train_doc_id",
            "eval_doc_id",
            "n_shared",
            F.round(F.col("n_shared").cast("double") / F.col("n_ev"), 6).alias(
                "containment"
            ),
        )
    )


@query(
    "curation_pipeline_e2e",
    oracle=f"""
        WITH t AS (SELECT doc_id, source, text, {_SQL_TOKENS} AS toks
                   FROM documents),
        m AS (SELECT doc_id, source, text,
                     len(toks) AS n_tokens,
                     len(list_filter(toks, t -> t IN {STOPWORDS!r})) AS n_stop,
                     CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
              FROM t WHERE len(toks) > 0),
        q AS (SELECT doc_id, source,
                     LEAST(CAST(n_tokens AS DOUBLE) / 64, 1.0) * 0.4
                     + LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 5, 1.0) * 0.3
                     + ttr * 0.3 AS quality,
                     sha256(text) AS digest
              FROM m),
        kept AS (SELECT * FROM q WHERE quality >= 0.5
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY digest
                                            ORDER BY doc_id) = 1)
        SELECT source,
               COUNT(*)                 AS n_docs,
               ROUND(AVG(quality), 6)   AS avg_quality
        FROM kept
        GROUP BY source
        ORDER BY source
    """,
    tags=("text", "curation", "pipeline", "documents"),
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision chain as ONE lazy plan: quality-score every
    document (same formula as ``text_quality_score``), keep quality >=
    0.5, exact-dedup survivors by content digest (keep lowest doc_id),
    and roll up kept-doc counts + mean quality per source.

    This is the shape a production pipeline runs nightly: no
    materialization between stages, the text column is pruned as soon as
    the digest exists, and the only shuffles are the digest-keyed dedup
    window and the final small rollup."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", "source", "text", toks.alias("toks")).filter(
        F.size("toks") > 0
    )
    n_tokens = F.size("toks").cast("double")
    n_stop = F.size(F.filter(F.col("toks"), lambda t: t.isin(*STOPWORDS))).cast(
        "double"
    )
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    quality = (
        F.least(n_tokens / 64, F.lit(1.0)) * 0.4
        + F.least(n_stop / n_tokens * 5, F.lit(1.0)) * 0.3
        + ttr * 0.3
    )
    scored = base.select(
        "doc_id",
        "source",
        quality.alias("quality"),
        F.sha2("text", 256).alias("digest"),
    ).filter(F.col("quality") >= 0.5)
    w = Window.partitionBy("digest").orderBy("doc_id")
    kept = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("source")
    )


BOILER_DF = 2  # shingle is "boilerplate" when it appears in >= this many docs
SAMPLE_K = 10  # docs sampled per source
RESAMPLE_SCALE = 1_000_000  # hash-uniform resolution for importance sampling


@query(
    "text_boilerplate_fraction",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(
                          range(1, len(toks) - {SHINGLE_W} + 2),
                          i -> array_to_string(toks[i:i+{SHINGLE_W}-1], ' ')
                      )) AS shingles
               FROM t WHERE len(toks) >= {SHINGLE_W}),
        ex AS (SELECT doc_id, UNNEST(shingles) AS sh FROM sh),
        df AS (SELECT sh, COUNT(*) AS n_docs FROM ex GROUP BY 1)
        SELECT ex.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN df.n_docs >= {BOILER_DF} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_common,
               ROUND(CAST(SUM(CASE WHEN df.n_docs >= {BOILER_DF} THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS boilerplate_frac
        FROM ex JOIN df ON ex.sh = df.sh
        GROUP BY ex.doc_id
    """,
    tags=("text", "curation", "documents"),
)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate scoring: the fraction of a document's
    distinct token shingles that recur in >= BOILER_DF other documents.
    High fraction = shared template/boilerplate text (headers, footers,
    licence blocks) — a standard pre-training drop/clean signal that,
    unlike the intra-document repetition signals, needs corpus context.

    Plan shape: one explode, one shingle-keyed count (the corpus
    document-frequency table), one shingle-keyed join back, one
    doc-keyed rollup — all linear, two shuffle keys total. At 100 TB
    hash the shingle to a bigint first so both shuffles move 8-byte
    keys, and compute df once per corpus snapshot, not per query."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n = F.size("toks")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - SHINGLE_W + 1),
            lambda i: F.array_join(F.slice("toks", i, SHINGLE_W), " "),
        )
    )
    ex = (
        d.select("doc_id", toks.alias("toks"))
        .filter(n >= SHINGLE_W)
        .select("doc_id", F.explode(shingles).alias("sh"))
    )
    df = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    is_common = (F.col("n_docs") >= BOILER_DF).cast("long")
    return (
        ex.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(is_common).alias("n_common"),
            F.round(
                F.sum(is_common).cast("double") / F.count(F.lit(1)), 6
            ).alias("boilerplate_frac"),
        )
    )


@query(
    "curation_sample_per_source",
    oracle=f"""
        SELECT source, doc_id
        FROM (SELECT source, doc_id,
                     ROW_NUMBER() OVER (
                         PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rn
              FROM documents)
        WHERE rn <= {SAMPLE_K}
    """,
    tags=("curation", "sampling", "documents"),
)
def curation_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: order each source's documents
    by md5(doc_id) — a uniform, engine-portable pseudo-random key — and
    keep the first SAMPLE_K. Reproducible across runs and engines,
    unlike rand()-based sampling, which matters for audit trails
    ("which exact docs were in the eval slice?").

    One shuffle keyed by source. At 100 TB the window sort is the
    bottleneck for mega-groups; there the same hash-order rule runs as
    a two-phase top-k (per-partition top-k, then merge — see
    operators/windows.py topk pattern), which is exactly how
    reservoir-equivalent sampling distributes."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SAMPLE_K)
        .select("source", "doc_id")
    )


@query(
    "curation_importance_resample",
    oracle=f"""
        WITH t AS (SELECT doc_id, source, {_SQL_TOKENS} AS toks FROM documents),
        m AS (SELECT doc_id, source,
                     len(toks) AS n_tokens,
                     len(list_filter(toks, t -> t IN {STOPWORDS!r})) AS n_stop,
                     CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
              FROM t WHERE len(toks) > 0),
        q AS (SELECT doc_id, source,
                     LEAST(CAST(n_tokens AS DOUBLE) / 64, 1.0) * 0.4
                     + LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 5, 1.0) * 0.3
                     + ttr * 0.3 AS quality,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % {RESAMPLE_SCALE} AS u
              FROM m)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN u < quality * {RESAMPLE_SCALE}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               ROUND(AVG(CASE WHEN u < quality * {RESAMPLE_SCALE}
                              THEN quality END), 6) AS avg_quality_kept
        FROM q
        GROUP BY source
        ORDER BY source
    """,
    tags=("curation", "sampling", "documents"),
)
def curation_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling: keep each document with
    probability equal to its quality score, decided by comparing the
    score against a deterministic per-doc uniform draw (md5 hash of
    doc_id scaled to [0,1)). This is how pipelines upweight high-quality
    sources without a global sort or an RNG whose replay depends on
    partitioning — the keep decision is a pure function of the row.

    Map-only except the final per-source rollup: no shuffle touches the
    full corpus. The same predicate with quality replaced by any
    per-row weight implements temperature/mixture resampling."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", "source", toks.alias("toks")).filter(F.size("toks") > 0)
    n_tokens = F.size("toks").cast("double")
    n_stop = F.size(F.filter(F.col("toks"), lambda t: t.isin(*STOPWORDS))).cast(
        "double"
    )
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    quality = (
        F.least(n_tokens / 64, F.lit(1.0)) * 0.4
        + F.least(n_stop / n_tokens * 5, F.lit(1.0)) * 0.3
        + ttr * 0.3
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % RESAMPLE_SCALE
    )
    scored = base.select(
        "source",
        quality.alias("quality"),
        (u < quality * RESAMPLE_SCALE).alias("keep"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.round(F.avg(F.when(F.col("keep"), F.col("quality"))), 6).alias(
                "avg_quality_kept"
            ),
        )
        .orderBy("source")
    )


PACK_BUDGET = 256  # token budget per training pack (context window)


@query(
    "curation_pack_sequences",
    oracle=f"""
        WITH RECURSIVE s AS (
            SELECT doc_id, source,
                   CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY doc_id) AS rn
            FROM documents
        ),
        p(source, rn, doc_id, n_tokens, pack_id, fill) AS (
            SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
            FROM s WHERE rn = 1
            UNION ALL
            SELECT s.source, s.rn, s.doc_id, s.n_tokens,
                   CASE WHEN p.fill > 0
                             AND p.fill + s.n_tokens > {PACK_BUDGET}
                        THEN p.pack_id + 1 ELSE p.pack_id END,
                   CASE WHEN p.fill > 0
                             AND p.fill + s.n_tokens > {PACK_BUDGET}
                        THEN s.n_tokens ELSE p.fill + s.n_tokens END
            FROM p JOIN s ON s.source = p.source AND s.rn = p.rn + 1
        )
        SELECT doc_id, source, pack_id, n_tokens FROM p
    """,
    tags=("curation", "packing", "documents"),
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training-batch construction: walk each
    source's documents in doc_id order and pack them into the fewest
    consecutive groups whose token totals stay within PACK_BUDGET (a doc
    longer than the budget gets a pack of its own). Returns
    (doc_id, source, pack_id, n_tokens) — the pack manifest a training
    dataloader consumes.

    The running keep-or-open-new-pack decision is inherently sequential
    (pack_id depends on every prior doc in the group), so this is the
    applyInPandas case the mandate carves out: Arrow-batched grouped map,
    numpy cumsum inside, no row-at-a-time Python. Cross-engine check:
    the oracle replays the same greedy fold as a RECURSIVE CTE (one
    recursion level per doc within a source — the SQL spelling of a
    sequential scan), and the greedy invariants (budget respected,
    packs contiguous, first doc of pack p+1 never fits in pack p) are
    additionally asserted in tests/test_curation.py.

    One shuffle keyed by source. At 100 TB a single source is far too
    big for one group — pre-chunk the key to (source, doc_id DIV chunk)
    so groups stay executor-sized; packing within chunks is identical
    and boundaries cost at most one under-filled pack per chunk."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    sized = d.select("doc_id", "source", F.size(toks).alias("n_tokens"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack_id, cur = 0, 0
        for n in pdf["n_tokens"]:
            if cur > 0 and cur + n > PACK_BUDGET:
                pack_id += 1
                cur = 0
            pack_ids.append(pack_id)
            cur += n
        pdf["pack_id"] = pack_ids
        return pdf[["doc_id", "source", "pack_id", "n_tokens"]]

    return sized.groupBy("source").applyInPandas(
        pack, "doc_id long, source string, pack_id long, n_tokens long"
    )


TOKEN_BUDGET = 50_000  # tokens to keep, best-quality-first


@query(
    "curation_token_budget_select",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
        m AS (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(list_filter(toks, t -> t IN {('the', 'a', 'of', 'and', 'to', 'in')})) AS n_stop,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
            FROM t WHERE len(toks) > 0
        ),
        q AS (
            SELECT doc_id, n_tokens,
                   ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 64, 1.0) * 0.4
                         + LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 5, 1.0) * 0.3
                         + ttr * 0.3, 6) AS quality
            FROM m
        ),
        w AS (
            SELECT doc_id, n_tokens, quality,
                   SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM q
        )
        SELECT doc_id, n_tokens, quality, CAST(cum AS BIGINT) AS cum_tokens
        FROM w WHERE cum <= {TOKEN_BUDGET}
    """,
    tags=("text", "curation", "sampling", "budget", "documents"),
)
def curation_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: keep the highest-quality documents
    (quality-desc, doc_id tiebreak) until a global token budget is
    exhausted — the final cut a pre-training data pipeline makes.

    The oracle states the semantics as ONE global ordered running sum —
    a single-partition window, the classic scale-killer. The engine
    instead runs the TWO-PHASE form: quantize quality into 100 fixed
    bins (monotone in the sort key, since the key is quality rounded to
    6 places), compute per-bin token totals and a cumulative-by-bin
    prefix (a ~100-row window), then run the running sum WITHIN each
    bin, partition-parallel, offset by the prefix of better bins.
    Identical keep-set, but the only global structure is the 100-row
    bin ledger — each data-sized window is partitioned by bin.
    Ordering uses the ROUNDED quality so both engines sort the exact
    same key (raw double ULP noise could flip neighbors)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n_tokens = F.size("toks").cast("double")
    n_stop = _count_in_cur(F.col("toks"), STOPWORDS).cast("double")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    quality = F.round(
        F.least(n_tokens / 64, F.lit(1.0)) * 0.4
        + F.least(n_stop / n_tokens * 5, F.lit(1.0)) * 0.3
        + ttr * 0.3,
        6,
    )
    scored = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        quality.alias("quality"),
        F.floor(quality * 100).alias("qbin"),
    )
    bin_tot = scored.groupBy("qbin").agg(F.sum("n_tokens").alias("bt"))
    wbin = (
        Window.orderBy(F.col("qbin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ~100 rows: the single-partition window is the bin ledger, not data
    prefix = bin_tot.select(
        "qbin", (F.sum("bt").over(wbin) - F.col("bt")).alias("cum_before")
    )
    wdoc = (
        Window.partitionBy("qbin")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.join(F.broadcast(prefix), "qbin")
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            (F.col("cum_before") + F.sum("n_tokens").over(wdoc)).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )


AES_K = 50  # sample size


@query(
    "curation_weighted_sample_aes",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, CAST(n_chars AS DOUBLE) AS wt,
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) + 1.0) / 4503599627370497.0 AS u
            FROM documents WHERE n_chars > 0
        ),
        keyed AS (
            SELECT doc_id, wt, POW(u, 1.0 / wt) AS k FROM w
        )
        SELECT doc_id, CAST(wt AS BIGINT) AS weight,
               ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS rank
        FROM keyed
        QUALIFY rank <= {AES_K}
    """,
    tags=("curation", "sampling", "weighted", "documents"),
)
def curation_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement by the
    Efraimidis-Spirakis A-ES scheme: each row draws key u^(1/w) and the
    k largest keys ARE a weighted sample — one map + one top-k, no
    sequential pass, no rejection loop; the standard way to
    quality-weight a training-data draw at corpus scale.

    The uniform u is hash-derived (md5 of the id over 2^52), making the
    sample DETERMINISTIC and cross-engine reproducible — a seeded rand()
    would be engine-internal. Top-k is TakeOrderedAndProject via the
    rank filter.

    Scale: map-only key computation; the only reduction is the global
    top-k (per-partition heaps + driver merge of k rows)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(4503599627370497.0)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("wt"),
        F.pow(u, 1.0 / F.col("n_chars").cast("double")).alias("k"),
    )
    w = Window.orderBy(F.desc("k"), "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= AES_K)
        .select("doc_id", F.col("wt").cast("bigint").alias("weight"), "rank")
    )


@query(
    "curation_token_weighted_median",
    oracle=f"""
        WITH t AS (SELECT source, {_SQL_TOKENS} AS toks FROM documents),
        m AS (
            SELECT source,
                   CAST(len(toks) AS BIGINT) AS w,
                   ROUND(LEAST(CAST(len(toks) AS DOUBLE) / 64, 1.0) * 0.4
                         + LEAST(CAST(len(list_filter(toks,
                                        x -> x IN {STOPWORDS!r})) AS DOUBLE)
                                 / len(toks) * 5, 1.0) * 0.3
                         + CAST(len(list_distinct(toks)) AS DOUBLE)
                           / len(toks) * 0.3, 6) AS q
            FROM t WHERE len(toks) > 0
        ),
        c AS (
            SELECT source, q, w,
                   SUM(w) OVER (PARTITION BY source ORDER BY q
                                RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cw,
                   SUM(w) OVER (PARTITION BY source) AS tw
            FROM m
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT)  AS n_docs,
               CAST(MAX(tw) AS BIGINT)   AS total_tokens,
               MIN(CASE WHEN cw >= tw / 2.0 THEN q END) AS wmedian_quality
        FROM c
        GROUP BY source
    """,
    tags=("curation", "quality", "weighted-median", "documents"),
)
def curation_token_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median quality per source: the smallest quality
    score q* such that documents scoring <= q* hold at least HALF the
    source's TOKEN MASS — the threshold a token-budget curation pass
    actually needs (a document-count median over-weights short docs).

    Distributed form: ``functions.ranks.prefix_sums`` gives, per
    (source, distinct score), the token weight of all documents scoring
    lower — a broadcast bucket offset (triangular join over the
    per-source bucket ledger, window-free) plus a running sum in a
    window PARTITIONED by (source, bucket); the median is the smallest
    score whose inclusive prefix reaches half the source's tokens."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select("source", toks.alias("toks")).filter(F.size("toks") > 0)
    n_tokens = F.size("toks").cast("double")
    n_stop = _count_in_cur(F.col("toks"), STOPWORDS).cast("double")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    quality = F.round(
        F.least(n_tokens / 64, F.lit(1.0)) * 0.4
        + F.least(n_stop / n_tokens * 5, F.lit(1.0)) * 0.3
        + ttr * 0.3,
        6,
    )
    m = base.select(
        "source",
        F.size("toks").cast("bigint").alias("w"),
        quality.alias("q"),
    )
    weights = {"w": F.col("w"), "docs": F.lit(1)}
    c = prefix_sums(m, "q", weights, by=["source"], ties=())
    return (
        c.where(F.col("w_before") + F.col("w") >= F.col("w_total") / 2.0)
        .groupBy("source")
        .agg(
            F.max("docs_total").alias("n_docs"),
            F.max("w_total").alias("total_tokens"),
            F.min("q").alias("wmedian_quality"),
        )
    )


_CURR_BINS = 4
_CURR_HEAD = 20


@query(
    "curation_curriculum_order",
    oracle=f"""
        WITH cuts AS (
            SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents
        ),
        binned AS (
            SELECT d.doc_id, d.source, d.n_chars,
                   CASE WHEN c.hi = c.lo THEN 0
                        ELSE LEAST(CAST(FLOOR((d.n_chars - c.lo)
                                 / ((c.hi - c.lo) * 1.0 / {_CURR_BINS}))
                             AS BIGINT), {_CURR_BINS - 1}) END AS bin,
                   md5(CAST(d.doc_id AS VARCHAR)) AS k
            FROM documents d CROSS JOIN cuts c
        ),
        head AS (
            SELECT doc_id, source, n_chars, bin, k
            FROM binned ORDER BY bin, k, doc_id LIMIT {_CURR_HEAD}
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY bin, k, doc_id) AS INT)
                   AS sample_order,
               doc_id, bin, n_chars, source
        FROM head
        ORDER BY sample_order
    """,
    tags=("curation", "documents", "topk"),
)
def curation_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning data ordering: documents are binned into
    difficulty quartiles (length proxy; cut points from one min/max
    aggregate — the MI-binning idiom, no global quantile window) and
    the training order is (difficulty bin asc, keyed md5 hash) — easy
    bins first, deterministic shuffle within each bin. The exemplar
    certifies the head of the curriculum (first 20 samples).

    100 TB design: the cut frame is a 1-row broadcast; binning is
    map-only; the certified head is TakeOrderedAndProject (per-
    partition heaps); materializing the FULL curriculum index at scale
    uses the repo's two-phase order-statistic idiom (per-bin counts ->
    broadcast offsets -> rank within bin), never one global window
    over fact data.
    """
    d = load_table(spark, sf_dir, "documents")
    cuts = d.agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
    )
    binned = d.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("n_chars") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) * 1.0 / _CURR_BINS)
                ).cast("bigint"),
                F.lit(_CURR_BINS - 1),
            )
        )
        .alias("bin"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    head = binned.orderBy("bin", "k", "doc_id").limit(_CURR_HEAD)
    w = Window.orderBy("bin", "k", "doc_id")
    return head.select(
        F.row_number().over(w).cast("int").alias("sample_order"),
        "doc_id",
        "bin",
        "n_chars",
        "source",
    ).orderBy("sample_order")


K_ANON_K = 10  # privacy threshold: classes smaller than this are "at risk"
K_ANON_BAND_CENTS = 5_000_000  # $50k price bands as the sensitive attribute


@query(
    "curation_k_anonymity",
    oracle=f"""
        WITH cls AS (
            SELECT year(o_orderdate) AS yr, o_orderpriority, o_orderstatus,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT CAST(FLOOR(
                       CAST(ROUND(o_totalprice * 100) AS BIGINT)
                       / {K_ANON_BAND_CENTS}.0) AS BIGINT)) AS l_div
            FROM orders GROUP BY 1, 2, 3
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               CAST(MIN(n_rows) AS BIGINT) AS k_anonymity,
               CAST(SUM(CASE WHEN n_rows < {K_ANON_K} THEN n_rows ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               ROUND(SUM(CASE WHEN n_rows < {K_ANON_K} THEN n_rows ELSE 0 END)
                     * 1.0 / SUM(n_rows), 4) AS risk_ratio,
               CAST(MIN(l_div) AS BIGINT) AS l_diversity
        FROM cls
    """,
    tags=("curation", "privacy", "k-anonymity", "orders", "governance"),
)
def curation_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over a quasi-identifier tuple —
    the privacy gate a training-data release pipeline runs after PII
    scrubbing (text_pii_scrub removes direct identifiers; this measures
    whether the REMAINING quasi-identifiers re-identify). QI = (order
    year, priority, status); sensitive attribute = $50k price band.
    Reports the equivalence-class count, the k-anonymity level (min
    class size), rows at risk under k=10, and the l-diversity floor
    (min distinct sensitive values within any class).

    100 TB design: one map-side-combinable aggregate over the fact
    table (count + count-distinct per QI class), then a scalar rollup
    of the tiny class frame — the same shape as profile_dq_rules.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    band = F.floor(cents / F.lit(float(K_ANON_BAND_CENTS))).cast("bigint")
    cls = (
        o.select(
            F.year("o_orderdate").alias("yr"),
            "o_orderpriority",
            "o_orderstatus",
            band.alias("band"),
        )
        .groupBy("yr", "o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("band").alias("l_div"),
        )
    )
    at_risk = F.sum(F.when(F.col("n_rows") < K_ANON_K, F.col("n_rows")).otherwise(0))
    return cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("n_rows").cast("bigint").alias("k_anonymity"),
        at_risk.cast("bigint").alias("rows_at_risk"),
        F.round(at_risk * 1.0 / F.sum("n_rows"), 4).alias("risk_ratio"),
        F.min("l_div").cast("bigint").alias("l_diversity"),
    )


# --- Hamilton (largest-remainder) sampling apportionment ----------------

QUOTA_BUDGET = 1000  # documents to sample across sources


@query(
    "curation_sampling_quota",
    oracle=f"""
        WITH per_source AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY source
        ),
        tot AS (SELECT SUM(chars) AS tc FROM per_source),
        seats AS (
            SELECT source, n_docs, chars,
                   ({QUOTA_BUDGET} * chars) // t.tc AS floor_quota,
                   ({QUOTA_BUDGET} * chars) % t.tc AS rem
            FROM per_source CROSS JOIN tot t
        ),
        ranked AS (
            SELECT source, n_docs, chars, floor_quota,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
                   {QUOTA_BUDGET} - SUM(floor_quota) OVER () AS leftover
            FROM seats
        )
        SELECT source, n_docs, chars,
               CAST(floor_quota
                    + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS quota
        FROM ranked ORDER BY source
    """,
    tags=("curation", "sampling", "apportionment", "documents"),
)
def curation_sampling_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton / largest-remainder apportionment of a fixed sampling
    budget (1000 docs) across sources, proportional to character mass:
    each source gets floor(budget·w) seats, and the leftover seats go
    to the largest fractional remainders (source name as tiebreak).
    The integer quotas sum EXACTLY to the budget — which is the whole
    point over naive round(budget·w), whose total drifts by ±k.

    Exactness: remainders are compared as INTEGER modulos
    (budget·chars mod total) — never as floating fractions — so the
    ranking is bit-identical cross-engine with no epsilon. Shape: one
    map-side-combined source aggregate (bounded output), a broadcast
    total, and windows over the tiny source frame. Downstream, each
    source's quota drives a deterministic hash-rank sample
    (curation_sample_per_source), giving an end-to-end budgeted
    stratified sampler.

    Complements curation_source_mix_weights (continuous weights) with
    the integer-seat allocation a fixed-size training-mix actually
    needs.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = per_source.agg(F.sum("chars").alias("tc"))
    seats = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars",
        # SQL DIV = exact integer division (Spark's `/` is double math,
        # whose rounding could differ from DuckDB's BIGINT `//`)
        F.expr(f"({QUOTA_BUDGET} * chars) DIV tc").alias("floor_quota"),
        ((F.lit(QUOTA_BUDGET) * F.col("chars")) % F.col("tc")).alias("rem"),
    )
    w_rank = Window.orderBy(F.col("rem").desc(), "source")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = seats.select(
        "source",
        "n_docs",
        "chars",
        "floor_quota",
        F.row_number().over(w_rank).alias("rk"),
        (F.lit(QUOTA_BUDGET) - F.sum("floor_quota").over(w_all)).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "source",
        "n_docs",
        "chars",
        (
            F.col("floor_quota")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
    ).orderBy("source")
