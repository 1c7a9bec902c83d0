"""The reference's own dataflow (SURVEY §2.A R1–R24), re-expressed as
lazy Spark plans over deterministic synthetic inputs so every step is
oracle-checkable (the reference's randomness — lorem text, RNG phrase
lengths — is replaced by fixed arithmetic functions of the row id; the
*operator shapes* are exactly the reference's).

Mapping (file:line cites into /root/reference):
* R2 row source  — ``range(phrases)``            data_generator.py:15
* R3 parity labels — Male/Female by id parity     data_generator.py:18,21
* R7 cumulative seconds — running sum             data_generator.py:14,20-21
* R17 filter vs scalar aggregate                  voice_classifier.py:103
* R18 dedup by key                                voice_classifier.py:104
* R22 index→time axis rescale                     voice_classifier.py:124
* R23 lag for phrase bounds                       voice_classifier.py:125
* R24 interval (range) join frame→phrase          voice_classifier.py:126-134

The interval join uses half-open [start, end) intervals — the reference's
closed-both-sides loop emits boundary frames twice (SURVEY §2.A R24
divergence note).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

N_PHRASES = 40
FRAME_STEP = 0.25  # exactly representable in binary → identical FP both engines
# total recording length Σ dur_i is a pure function of N_PHRASES — inlined
# as a literal because DuckDB's range() table function can't take a subquery
TOTAL_SECONDS = sum((i * 7) % 8 + 2 for i in range(N_PHRASES))
N_FRAMES = int(TOTAL_SECONDS / FRAME_STEP)


def segments(spark: SparkSession) -> DataFrame:
    """Deterministic stand-in for the generator's labeled-phrase table
    (FIXTURES.md A1): dur_i ∈ {2..9} via fixed arithmetic, cumulative
    ``seconds`` via an ordered running-sum window (R7)."""
    base = spark.range(N_PHRASES).select(
        F.col("id"),
        F.when(F.pmod("id", F.lit(2)) == 0, "Male").otherwise("Female").alias("speaker"),
        ((F.col("id") * 7) % 8 + 2).cast("double").alias("dur"),
    )
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return base.select(
        "id", "speaker", "dur", F.sum("dur").over(w).alias("seconds")
    )


_SEGMENTS_SQL = f"""
    SELECT id, speaker, dur,
           SUM(dur) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS seconds
    FROM (
        SELECT range AS id,
               CASE WHEN range % 2 = 0 THEN 'Male' ELSE 'Female' END AS speaker,
               CAST((range * 7) % 8 + 2 AS DOUBLE) AS dur
        FROM range({N_PHRASES})
    )
"""


@query("ref_segments_cumsum", oracle=_SEGMENTS_SQL, tags=("reference", "window"))
def ref_segments_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2+R3+R7: row source, parity labeling, cumulative duration.
    Note the single unpartitioned ordered window — correct here because
    the phrase table is tiny by construction (one recording); the
    at-scale form partitions by recording id."""
    return segments(spark)


def frames(spark: SparkSession) -> DataFrame:
    """Uniform frame-time grid over the recording (stand-in for R14's
    spectrogram frame axis): t = j·step up to total seconds. Sized by
    the N_FRAMES module literal — the same constant the oracle SQL
    uses — so building the grid triggers no eager job (the r04 VERDICT
    flagged the redundant ``.first()`` that used to size it)."""
    return spark.range(N_FRAMES).select(
        F.col("id").alias("frame_id"),
        (F.col("id") * F.lit(FRAME_STEP)).alias("t"),
    )


_FRAMES_SQL = f"""
    SELECT range AS frame_id, range * {FRAME_STEP} AS t
    FROM range({N_FRAMES})
"""


@query(
    "ref_interval_join",
    oracle=f"""
        WITH seg AS ({_SEGMENTS_SQL}),
        bounds AS (
            SELECT speaker, seconds AS e,
                   COALESCE(LAG(seconds) OVER (ORDER BY id), 0.0) AS s
            FROM seg
        ),
        f AS ({_FRAMES_SQL})
        SELECT f.frame_id, f.t, b.speaker
        FROM f JOIN bounds b ON f.t >= b.s AND f.t < b.e
    """,
    tags=("reference", "range-join"),
)
def ref_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R23+R24: phrase bounds via lag, then the frame→phrase interval
    join as a broadcast non-equi join (the reference's O(F×P) Python
    loop, voice_classifier.py:126-134). Half-open intervals: each frame
    matches exactly one phrase. At 100 TB: bucket both sides by
    floor(t/Δ) to make it an equi-join + residual (SURVEY §4.1)."""
    seg = segments(spark)
    w = Window.orderBy("id")
    bounds = seg.select(
        "speaker",
        F.col("seconds").alias("e"),
        F.coalesce(F.lag("seconds").over(w), F.lit(0.0)).alias("s"),
    )
    f = frames(spark)
    return f.join(
        F.broadcast(bounds), (F.col("t") >= F.col("s")) & (F.col("t") < F.col("e"))
    ).select("frame_id", "t", "speaker")


@query(
    "ref_filter_scalar_max",
    oracle=f"""
        WITH seg AS ({_SEGMENTS_SQL}),
        f AS ({_FRAMES_SQL})
        SELECT id, speaker, seconds
        FROM seg
        WHERE seconds <= (SELECT ROUND(MAX(t), 0) FROM f)
    """,
    tags=("reference", "filter"),
)
def ref_filter_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17: filter against a scalar aggregate of another table
    (voice_classifier.py:103) — crossJoin(broadcast(1-row agg)) keeps it
    fully distributed (no driver round-trip)."""
    seg = segments(spark)
    cutoff = frames(spark).agg(F.round(F.max("t"), 0).alias("cutoff"))
    return (
        seg.crossJoin(F.broadcast(cutoff))
        .filter(F.col("seconds") <= F.col("cutoff"))
        .select("id", "speaker", "seconds")
    )


@query(
    "ref_dedup_by_key",
    oracle=f"""
        SELECT speaker, MIN(id) AS first_id, COUNT(*) AS n_phrases
        FROM ({_SEGMENTS_SQL})
        GROUP BY speaker
    """,
    tags=("reference", "dedup"),
)
def ref_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18: the reference's (discarded) drop_duplicates(subset='speaker')
    at voice_classifier.py:104. ``dropDuplicates(["k"])`` keeps an
    arbitrary row under a shuffle — the deterministic engine form is
    min-per-key."""
    return (
        segments(spark)
        .groupBy("speaker")
        .agg(F.min("id").alias("first_id"), F.count(F.lit(1)).alias("n_phrases"))
    )


@query(
    "ref_axis_rescale",
    oracle=f"""
        WITH f AS ({_FRAMES_SQL}),
        m AS (SELECT MAX(seconds) AS max_sec FROM ({_SEGMENTS_SQL})),
        n AS (SELECT MAX(frame_id) AS max_j FROM f)
        SELECT frame_id,
               ROUND(frame_id * m.max_sec / n.max_j, 6) AS time_axis
        FROM f, m, n
    """,
    tags=("reference", "projection"),
)
def ref_axis_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R22: index→time rescale ``time[j] = j·max(seconds)/max(j)``
    (voice_classifier.py:124) with both scalars as broadcast 1-row aggs."""
    f = frames(spark)
    max_sec = segments(spark).agg(F.max("seconds").alias("max_sec"))
    max_j = f.agg(F.max("frame_id").alias("max_j"))
    return (
        f.crossJoin(F.broadcast(max_sec))
        .crossJoin(F.broadcast(max_j))
        .select(
            "frame_id",
            F.round(F.col("frame_id") * F.col("max_sec") / F.col("max_j"), 6).alias(
                "time_axis"
            ),
        )
    )


@query(
    "ref_power_to_db",
    oracle=f"""
        WITH p AS (
            SELECT range AS cell_id,
                   CAST((range * 37) % 1000 + 1 AS DOUBLE) / 10.0 AS power
            FROM range(5000)
        ),
        m AS (SELECT MAX(power) AS maxp FROM p)
        SELECT cell_id,
               ROUND(GREATEST(10.0 * LOG10(power / m.maxp), -80.0), 6) AS db
        FROM p, m
    """,
    tags=("reference", "audio-math"),
)
def ref_power_to_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15: librosa ``power_to_db(S, ref=np.max)`` (voice_classifier.py:83)
    as the canonical two-pass pattern — global max agg, broadcast back,
    then ``greatest(10·log10(p/maxp), −80)`` elementwise. One extra
    reduce + one map; no driver collect."""
    p = spark.range(5000).select(
        F.col("id").alias("cell_id"),
        (((F.col("id") * 37) % 1000 + 1).cast("double") / 10.0).alias("power"),
    )
    maxp = p.agg(F.max("power").alias("maxp"))
    return p.crossJoin(F.broadcast(maxp)).select(
        "cell_id",
        F.round(
            F.greatest(10.0 * F.log10(F.col("power") / F.col("maxp")), F.lit(-80.0)), 6
        ).alias("db"),
    )


BUCKET_SECONDS = 4.0  # Δ for the bucketed interval join


@query(
    "ref_interval_join_bucketed",
    oracle=f"""
        WITH seg AS ({_SEGMENTS_SQL}),
        bounds AS (
            SELECT speaker, seconds AS e,
                   COALESCE(LAG(seconds) OVER (ORDER BY id), 0.0) AS s
            FROM seg
        ),
        f AS ({_FRAMES_SQL})
        SELECT f.frame_id, f.t, b.speaker
        FROM f JOIN bounds b ON f.t >= b.s AND f.t < b.e
    """,
    tags=("reference", "range-join", "scale"),
)
def ref_interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R24's interval join as the 100 TB plan promised in
    ``ref_interval_join``'s docstring: bucket both sides by
    ``floor(t/Δ)``, equi-join on the bucket, keep the residual range
    predicate. Intervals explode into every bucket they cover
    (``sequence(floor(s/Δ), floor((e−ulp)/Δ))``), so each frame meets
    only the handful of intervals sharing its bucket — a shuffle
    equi-join instead of a broadcast nested loop. Same rows as the NLJ
    form; the ORACLE is literally the same SQL as ``ref_interval_join``.

    Δ trades replication (intervals span e−s ≤ 9 s → ≤ 3 buckets at
    Δ=4 s) against per-bucket candidate count — at real scale pick Δ on
    the order of the median interval length."""
    seg = segments(spark)
    w = Window.orderBy("id")
    bounds = seg.select(
        "speaker",
        F.col("seconds").alias("e"),
        F.coalesce(F.lag("seconds").over(w), F.lit(0.0)).alias("s"),
    )
    # explode each interval into the Δ-buckets it covers; half-open end
    # (e - tiny ulp) keeps an interval ending exactly on a boundary out
    # of the next bucket
    buckets = bounds.select(
        "speaker",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / BUCKET_SECONDS).cast("long"),
                F.floor((F.col("e") - F.lit(1e-9)) / BUCKET_SECONDS).cast("long"),
            )
        ).alias("bkt"),
    )
    f = frames(spark).withColumn(
        "bkt", F.floor(F.col("t") / BUCKET_SECONDS).cast("long")
    )
    return (
        f.join(buckets, "bkt")  # equi-join on the bucket key
        .filter((F.col("t") >= F.col("s")) & (F.col("t") < F.col("e")))  # residual
        .select("frame_id", "t", "speaker")
    )


# ---------------------------------------------------------------------------
# reference: parity-labelled duration shares over the phrase catalog
# ---------------------------------------------------------------------------


def _ref_parity_shares_sql() -> str:
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        _SEGMENTS_SQL,
    )

    return f"""
        WITH seg AS ({_SEGMENTS_SQL}),
        tot AS (SELECT SUM(dur) AS total_dur FROM seg)
        SELECT speaker,
               CAST(COUNT(*) AS BIGINT)       AS n_phrases,
               SUM(dur)                       AS speaker_dur,
               ROUND(SUM(dur) / MAX(tot.total_dur), 6) AS dur_share,
               MAX(seconds)                   AS last_cum_second
        FROM seg, tot
        GROUP BY speaker
    """


@query(
    "ref_parity_duration_shares",
    oracle=_ref_parity_shares_sql(),
    tags=("reference", "aggregate", "window"),
)
def ref_parity_duration_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R3+R7+R19 composed: per-SPEAKER duration share of the
    phrase catalog — parity labels (R3, `src/data_generator.py`),
    cumulative seconds (R7), and the group-by reduction (R19) in one
    report (the per-phrase ledger itself: ``ref_segments_cumsum``).
    Durations are whole seconds stored as doubles (exactly
    representable), so the sums are exact and the single share
    division is bit-stable. The phrase table is one tiny broadcast at
    any SF — the 100 TB form partitions the cumulative window by
    recording id, as ``ref_segments_cumsum`` documents."""
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        segments,
    )

    seg = segments(spark)
    tot = seg.agg(F.sum("dur").alias("total_dur"))
    return (
        seg.crossJoin(F.broadcast(tot))
        .groupBy("speaker")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_phrases"),
            F.sum("dur").alias("speaker_dur"),
            F.round(F.sum("dur") / F.max("total_dur"), 6).alias("dur_share"),
            F.max("seconds").alias("last_cum_second"),
        )
    )


# ---------------------------------------------------------------------------
# reference: R18 keep-first vs keep-last dedup policy comparison
# ---------------------------------------------------------------------------


@query(
    "ref_dedup_keep_policy",
    oracle="""
        WITH g AS (
            SELECT lang, source,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_first,
                   CAST(MAX(doc_id) AS BIGINT) AS keep_last,
                   CAST(COUNT(*) AS BIGINT)    AS n_members
            FROM documents GROUP BY lang, source
        )
        SELECT lang, source, keep_first, keep_last, n_members,
               keep_first <> keep_last AS policy_differs
        FROM g
    """,
    tags=("reference", "dedup", "documents"),
)
def ref_dedup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R18 (drop_duplicates, `src/data_generator.py`)
    extended to the POLICY choice pandas hides: ``keep='first'`` vs
    ``keep='last'`` — undefined under distribution unless stated as
    MIN/MAX over an explicit key, which is exactly what this emits per
    (lang, source) group, plus whether the two policies disagree
    (they do whenever a group has >1 member — the point: a 100 TB
    dedup must pick a DETERMINISTIC keep rule, not a row-order
    accident; deterministic-min form certified as
    ``ref_dedup_by_key``). One keyed aggregate, no text movement."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.min("doc_id").cast("bigint").alias("keep_first"),
        F.max("doc_id").cast("bigint").alias("keep_last"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    return g.select(
        "lang", "source", "keep_first", "keep_last", "n_members",
        (F.col("keep_first") != F.col("keep_last")).alias("policy_differs"),
    )


# ---------------------------------------------------------------------------
# reference: R7 running concatenation (the generator's cumulative names)
# ---------------------------------------------------------------------------


@query(
    "ref_running_concat",
    oracle="""
        WITH seg AS (
            SELECT range AS id,
                   CASE WHEN range % 2 = 0 THEN 'Male' ELSE 'Female' END
                       AS speaker
            FROM range(40)
        )
        SELECT id, speaker,
               string_agg('p' || CAST(id AS VARCHAR), '|')
                   OVER (PARTITION BY speaker ORDER BY id
                         ROWS UNBOUNDED PRECEDING) AS running_names
        FROM seg
    """,
    tags=("reference", "window", "string"),
)
def ref_running_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7's RUNNING CONCATENATION as a first-class carrier: the
    reference's generator accumulates phrase file names into a growing
    string per speaker (data_generator.py:14,20-21 — the cumulative-
    text sibling of the cumulative-seconds sum certified in
    ``ref_segments_cumsum``). Spark states it as ``array_join ∘
    collect_list`` over an ordered running window (order is carried by
    the window spec, never by scan order); DuckDB as a windowed
    ``string_agg`` — two formulations of ordered string accumulation.
    Tiny by construction (one recording's phrase table); the at-scale
    form partitions by recording id exactly like the sum."""
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        N_PHRASES,
    )

    base = spark.range(N_PHRASES).select(
        F.col("id"),
        F.when(F.pmod("id", F.lit(2)) == 0, "Male")
        .otherwise("Female")
        .alias("speaker"),
    )
    w = (
        Window.partitionBy("speaker")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    name = F.concat(F.lit("p"), F.col("id").cast("string"))
    return base.select(
        "id",
        "speaker",
        F.array_join(F.collect_list(name).over(w), "|").alias(
            "running_names"
        ),
    )

# ---------------------------------------------------------------------------
# reference: phrase-duration histogram per speaker
# ---------------------------------------------------------------------------


@query(
    "ref_duration_histogram",
    oracle="""
        WITH seg AS (
            SELECT range AS id,
                   CASE WHEN range % 2 = 0 THEN 'Male' ELSE 'Female' END
                       AS speaker,
                   CAST((range * 7) % 8 + 2 AS DOUBLE) AS dur
            FROM range(40)
        ),
        h AS (
            SELECT speaker, dur, CAST(COUNT(*) AS BIGINT) AS n
            FROM seg GROUP BY speaker, dur
        ),
        t AS (
            SELECT speaker, CAST(SUM(n) AS BIGINT) AS n_speaker FROM h
            GROUP BY speaker
        )
        SELECT h.speaker, h.dur, h.n,
               ROUND(CAST(h.n AS DOUBLE) / t.n_speaker, 6) AS share
        FROM h JOIN t ON t.speaker = h.speaker
    """,
    tags=("reference", "report"),
)
def ref_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1–R3/R19 composite: the PHRASE-LENGTH PROFILE of the generated
    corpus — per-speaker histogram of phrase durations with each
    speaker's share per bucket (the sanity report a TTS data pipeline
    prints before synthesis: is the duration mix balanced across the
    parity-assigned voices? voice_classifier.py:21-38 builds exactly
    this table before the synthesis loop). Derived from the same
    deterministic ``segments`` stand-in every ref_* carrier shares
    (FIXTURES.md A1). Exact counts; share is one float division.
    Dimension-bounded output (|speakers|×|dur buckets| ≤ 16 rows)."""
    from big_data_audio_classification_spark.operators.reference_pipeline import (
        segments,
    )

    seg = segments(spark)
    h = seg.groupBy("speaker", "dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = h.groupBy("speaker").agg(F.sum("n").cast("bigint").alias("n_speaker"))
    return h.join(F.broadcast(t), "speaker").select(
        "speaker",
        "dur",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_speaker"), 6).alias(
            "share"
        ),
    )


# ---------------------------------------------------------------------------
# reference + audio-math: truncate-to-whole-slices RMS energy (R6 echo)
# ---------------------------------------------------------------------------

SLICE_SAMPLES = 100  # one "second" of the house cents-as-samples signal


@query(
    "ref_slice_rms_energy",
    oracle=f"""
        WITH x AS (
            SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS c,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ),
        kept AS (
            SELECT user_id,
                   CAST((rn - 1) // {SLICE_SAMPLES} AS BIGINT) AS slice_id,
                   c, n
            FROM x WHERE rn <= n - (n % {SLICE_SAMPLES})
        ),
        slices AS (
            SELECT user_id, slice_id,
                   SQRT(CAST(SUM(c * c) AS DOUBLE)
                        / ({SLICE_SAMPLES} * 10000.0)) AS rms
            FROM kept GROUP BY user_id, slice_id
        ),
        drops AS (
            SELECT user_id, CAST(MAX(n) % {SLICE_SAMPLES} AS BIGINT)
                       AS n_dropped
            FROM x GROUP BY user_id
        )
        SELECT d.user_id,
               COALESCE(s.n_slices, 0) AS n_slices,
               d.n_dropped,
               s.mean_rms, s.max_rms
        FROM drops d LEFT JOIN (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_slices,
                   ROUND(list_sum(list(rms ORDER BY slice_id)) / COUNT(*), 6)
                       AS mean_rms,
                   ROUND(MAX(rms), 6) AS max_rms
            FROM slices GROUP BY user_id
        ) s ON d.user_id = s.user_id
    """,
    tags=("reference", "audio-math", "events"),
)
def ref_slice_rms_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE-TO-WHOLE-SLICES RMS energy — the reference's R6
    semantics (voice_classifier.py:103: rows beyond the last whole
    second of audio are DROPPED before slicing, via the
    linspace-rounded duration mask) echoed on the house
    cents-as-samples signal: each channel keeps only complete
    100-sample slices, the trailing partial is discarded (n_dropped
    reports exactly how much — the audit a lossy truncation owes),
    and each slice gets an RMS from EXACT integer energy. Per-channel
    mean RMS folds slice-ordered (the crest/flatness discipline);
    max is order-free. Channels shorter than one slice survive with
    n_slices=0 / NULL stats via the outer join. 100 TB: one
    user-keyed window pass + one (user,slice) aggregate — identical
    shape to the framed-audio family."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select(
        "user_id",
        c.alias("c"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = x.filter(
        F.col("rn") <= F.col("n") - (F.col("n") % SLICE_SAMPLES)
    ).select(
        "user_id",
        ((F.col("rn") - 1) / SLICE_SAMPLES).cast("bigint").alias("slice_id"),
        "c",
    )
    slices = kept.groupBy("user_id", "slice_id").agg(
        F.sqrt(
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (SLICE_SAMPLES * 10000.0)
        ).alias("rms")
    )
    per_user = slices.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_slices"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("slice_id", "rms"))),
                    lambda s: s["rms"],
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mean_rms"),
        F.round(F.max("rms"), 6).alias("max_rms"),
    )
    drops = x.groupBy("user_id").agg(
        (F.max("n") % SLICE_SAMPLES).cast("bigint").alias("n_dropped")
    )
    return drops.join(per_user, "user_id", "left").select(
        "user_id",
        F.coalesce("n_slices", F.lit(0)).cast("bigint").alias("n_slices"),
        "n_dropped",
        "mean_rms",
        "max_rms",
    )


# ---------------------------------------------------------------------------
# reference/audio-math: peak-relative amplitude census
# ---------------------------------------------------------------------------


@query(
    "ref_clip_amplitude_census",
    oracle="""
        WITH a AS (
            SELECT event_type,
                   ABS(CAST(ROUND(value * 100) AS BIGINT)) AS amp
            FROM events
        ),
        pk AS (
            SELECT event_type, CAST(MAX(amp) AS BIGINT) AS peak
            FROM a GROUP BY event_type
        )
        SELECT a.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MAX(pk.peak) / 100.0, 2) AS peak_value,
               CAST(SUM(CASE WHEN 10 * a.amp >= 9 * pk.peak
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_near_peak,
               ROUND(CAST(SUM(CASE WHEN 10 * a.amp >= 9 * pk.peak
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) + 0 AS near_peak_ratio
        FROM a JOIN pk ON a.event_type = pk.event_type
        GROUP BY a.event_type
    """,
    tags=("reference", "audio-math", "events"),
)
def ref_clip_amplitude_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK-RELATIVE AMPLITUDE census — the reference normalizes every
    spectrogram against its own maximum (``power_to_db(S, ref=np.max)``,
    reference voice_classifier.py:83), so "how much signal sits within
    10% of peak" is ITS loudness contract re-expressed relationally:
    per event_type, the peak |amplitude| and the share of samples in
    the top decile band. The two-pass global-max-then-compare shape
    is R15's (audio_power_db); here the band predicate is EXACT
    integer arithmetic (10·|cents| ≥ 9·peak — never a float threshold
    off peak·0.9), amplitudes are cents, and the only floats are the
    final display division and ratio. 100 TB: two map-side-combinable
    aggregates over the same scan + a broadcast-sized peak join."""
    e = load_table(spark, sf_dir, "events")
    amp = F.abs(F.round(F.col("value") * 100).cast("bigint"))
    a = e.select("event_type", amp.alias("amp"))
    pk = a.groupBy("event_type").agg(
        F.max("amp").cast("bigint").alias("peak")
    )
    j = a.join(F.broadcast(pk), "event_type")
    near = F.when(10 * F.col("amp") >= 9 * F.col("peak"), 1).otherwise(0)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max("peak") / 100.0, 2).alias("peak_value"),
        F.sum(near).cast("bigint").alias("n_near_peak"),
        F.round(
            F.sum(near).cast("double") / F.count(F.lit(1)), 6
        ).alias("near_peak_ratio"),
    )
