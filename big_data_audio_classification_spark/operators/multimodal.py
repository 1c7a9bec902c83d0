"""Multimodal columns (mandated surface, SURVEY §2.B): media as opaque
``binary`` columns with typed metadata, plus the decode / feature-extract
plumbing as Arrow-batched pandas UDF stages.

The container has no image/audio codec libraries, so the decode kernel is
STUBBED (deterministic fake behind an import-try, per the mandate); the
Spark-side plumbing — schema, batch shape, partitioning, UDF signature —
is real and tested. The same gate covers the reference's side-effecting
media codecs: R4 TTS synthesis (``/root/reference/src/tts.py:4-16``) and
R9 resample+encode sink (``/root/reference/src/data_generator.py:26-27``)
would be ``mapInPandas`` stages exactly shaped like ``extract_features``
below, with pyttsx3/ffmpeg inside the kernel (peripheral per SURVEY §2.A;
R11 temp-file lifecycle and R47 plot rendering are non-goals — no
tmp-file or viz surface exists in a lazy distributed plan).

Scale notes: blobs ride along as opaque bytes; every transformation is a
map-only ``mapInPandas`` stage (no shuffle touches blob payloads). The
metadata struct column lets Catalyst prune scans down to metadata-only
reads when the blob isn't referenced (asserted in tests).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.scratch import SCRATCH_DIR as _SCRATCH
from big_data_audio_classification_spark.sources.catalog import load_table

try:  # real decoders are not shipped in this container
    import PIL.Image  # type: ignore  # noqa: F401

    _HAVE_CODECS = True
except ImportError:
    _HAVE_CODECS = False


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a multimodal table from documents: blob = utf-8 bytes of the
    text (an opaque stand-in payload), metadata = typed struct. The shape
    — not the payload — is the operator."""
    d = load_table(spark, sf_dir, "documents")
    blob = F.encode("text", "utf-8")
    return d.select(
        F.col("doc_id").alias("media_id"),
        blob.alias("blob"),
        F.struct(
            F.length(blob).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def decode_blob(batch: np.ndarray) -> np.ndarray:
    """Decode kernel. With real codecs this would produce pixel/sample
    arrays; here it raises unless stubbed (mandate: stub decode behind a
    clearly-marked gate, keep the plumbing real)."""
    if not _HAVE_CODECS:
        raise NotImplementedError(
            "media codecs not available in this container — use fake_decode"
        )
    raise NotImplementedError("real decode path reserved for codec-enabled builds")


def fake_decode(blob: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in decoder: byte histogram folded to ``dim``
    buckets, L1-normalized — a stable 'feature vector' per blob."""
    arr = np.frombuffer(blob, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
    total = hist.sum()
    return hist / total if total else hist


_FEAT_SCHEMA = "media_id long, n_bytes int, feature array<double>"


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Decode + feature-extract as one Arrow-batched mapInPandas stage —
    the exact plumbing a real image/audio featurizer uses (R12's decode
    UDF shape, voice_classifier.py:80)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_decode(b, dim) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(b) for b in pdf["blob"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=_FEAT_SCHEMA)


@query(
    "mm_metadata_stats",
    oracle="""
        SELECT source AS origin,
               COUNT(*)                              AS n_media,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               MIN(octet_length(encode(text)))       AS min_bytes,
               MAX(octet_length(encode(text)))       AS max_bytes
        FROM documents
        GROUP BY source
        ORDER BY origin
    """,
    tags=("multimodal",),
)
def mm_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over the multimodal table: Catalyst prunes the
    blob column entirely (struct-field pruning asserted in tests)."""
    m = media_table(spark, sf_dir)
    return (
        m.groupBy(F.col("meta.origin").alias("origin"))
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("meta.n_bytes").alias("total_bytes"),
            F.min("meta.n_bytes").alias("min_bytes"),
            F.max("meta.n_bytes").alias("max_bytes"),
        )
        .orderBy("origin")
    )


@query(
    "mm_feature_extract",
    oracle="""
        WITH pos AS (
          SELECT doc_id, source, text,
                 unnest(range(1, length(text) + 1)) AS i
          FROM documents
        ), h AS (
          SELECT doc_id, source,
                 ascii(substring(text, CAST(i AS INT), 1)) % 16 AS bucket,
                 CAST(COUNT(*) AS DOUBLE) AS c
          FROM pos GROUP BY ALL
        ), n AS (
          SELECT doc_id, source, SUM(c * c) / (SUM(c) * SUM(c)) AS sq
          FROM h GROUP BY doc_id, source
        )
        SELECT source AS origin, COUNT(*) AS n_media,
               ROUND(AVG(sq), 6) AS avg_sq_norm
        FROM n GROUP BY origin ORDER BY origin
    """,
    tags=("multimodal", "mapInPandas"),
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob → feature-vector extraction (deterministic stub decoder):
    per-origin mean feature squared-norm. Differential-tested: the
    pandas kernel's byte histogram (``fake_decode``: utf-8 bytes % 16,
    L1-normalized) is re-derived in the DuckDB oracle character-wise via
    ``ascii(substring(...)) % 16`` — valid because the corpus is pure
    ASCII (byte == character); Σ(h_b/N)² == Σc²/N². Batch-shape
    invariants are additionally pytest-asserted."""
    m = media_table(spark, sf_dir)
    feats = extract_features(m)
    sq = F.aggregate(F.col("feature"), F.lit(0.0), lambda a, x: a + x * x)
    return (
        feats.join(m.select("media_id", F.col("meta.origin").alias("origin")), "media_id")
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg(sq), 6).alias("avg_sq_norm"),
        )
        .orderBy("origin")
    )


@query(
    "mm_maparrow_bytelen",
    oracle="""
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    """,
    tags=("multimodal", "mapInArrow"),
)
def mm_maparrow_bytelen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-copy UDF surface: the kernel receives
    raw ``pyarrow.RecordBatch``es (no pandas conversion), the right
    boundary for codec-style byte work on multimodal blobs. Kernel here
    computes blob byte lengths; the shape (batch in → batch out, schema
    declared) is what a real decoder uses."""
    import pyarrow as pa

    def bytelen(batches):
        for batch in batches:
            ids = batch.column("media_id")
            lens = pa.array(
                [len(b) for b in batch.column("blob").to_pylist()], type=pa.int32()
            )
            yield pa.RecordBatch.from_arrays([ids, lens], ["media_id", "n_bytes"])

    m = media_table(spark, sf_dir).select("media_id", "blob")
    return m.mapInArrow(bytelen, schema="media_id long, n_bytes int")


@query(
    "mm_frame_sample",
    oracle="""
        SELECT media_id, frame_no,
               md5(substring(text, CAST(frame_no * 256 + 1 AS INT), 64)) AS frame_md5
        FROM (
            SELECT doc_id AS media_id, text,
                   unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS frame_no
            FROM documents
        )
    """,
    tags=("multimodal", "mapInPandas", "frame-sample"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (mandated video-style op): cut each media payload
    into fixed 64-unit frames and keep every 4th (stride 256), as a
    row-exploding ``mapInPandas`` stage — one input row fans out to
    ceil(len/256) frame rows, the cardinality-changing shape a real
    video frame-sampler has (decode stub: frames are char slices;
    a codec build would slice decoded frame arrays instead).

    Unusually for a pandas-UDF stage, this one is fully SQL-expressible,
    so the driver's DuckDB oracle cross-checks the kernel (md5 per
    sampled frame) against an independent substring/range implementation
    — UDF-vs-SQL differential testing for free. Map-only: no shuffle
    touches payloads; at 100 TB frames inherit the scan's partitioning.
    """
    import hashlib

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, md5s = [], [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                for k in range(-(-len(text) // 256)):  # ceil(len/256)
                    frame = text[k * 256 : k * 256 + 64]
                    ids.append(mid)
                    frame_nos.append(k)
                    md5s.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "frame_md5": md5s}
            )

    return d.mapInPandas(sample, schema="media_id long, frame_no long, frame_md5 string")


@query(
    "mm_resize_pool",
    oracle="""
        WITH pos AS (
          SELECT doc_id, source, text,
                 unnest(range(1, length(text) + 1)) AS i
          FROM documents
        ), h AS (
          SELECT doc_id, source,
                 ascii(substring(text, CAST(i AS INT), 1)) % 16 AS bucket,
                 CAST(COUNT(*) AS DOUBLE) AS c
          FROM pos GROUP BY ALL
        ), p AS (
          SELECT doc_id, source, SUM(c) AS n,
                 SUM(CASE WHEN bucket // 4 = 0 THEN c ELSE 0 END) AS s0,
                 SUM(CASE WHEN bucket // 4 = 1 THEN c ELSE 0 END) AS s1,
                 SUM(CASE WHEN bucket // 4 = 2 THEN c ELSE 0 END) AS s2,
                 SUM(CASE WHEN bucket // 4 = 3 THEN c ELSE 0 END) AS s3
          FROM h GROUP BY doc_id, source
        )
        SELECT source AS origin, CAST(COUNT(*) AS BIGINT) AS n_media,
               ROUND(AVG(s0 / (4.0 * n)), 6) AS p0,
               ROUND(AVG(s1 / (4.0 * n)), 6) AS p1,
               ROUND(AVG(s2 / (4.0 * n)), 6) AS p2,
               ROUND(AVG(s3 / (4.0 * n)), 6) AS p3
        FROM p GROUP BY origin
    """,
    tags=("multimodal", "pandas-udf", "resize"),
)
def mm_resize_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize (mandated image-style op): mean-pool the 16-bucket stub
    feature down to 4 buckets — the downsampling shape of an image
    resize kernel, as a vectorized Series→Series pandas UDF over the
    array column (decode stubbed per mandate; pooling arithmetic real).
    Output: per-origin mean of each pooled bucket. SQL-oracle-checkable
    (converted from rows-only, round 5) because the stub feature is a
    byte histogram the oracle re-derives character-wise — valid on this
    pure-ASCII corpus (byte == character), same argument as
    ``mm_feature_extract``; the pooled bucket j is the mean of raw
    buckets 4j..4j+3."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def pool4(feats: pd.Series) -> pd.Series:
        return feats.map(lambda v: np.asarray(v, dtype=np.float64).reshape(4, 4).mean(axis=1))

    m = media_table(spark, sf_dir)
    feats = extract_features(m)
    resized = feats.select("media_id", pool4("feature").alias("small"))
    return (
        resized.join(
            m.select("media_id", F.col("meta.origin").alias("origin")), "media_id"
        )
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            *[
                F.round(F.avg(F.element_at("small", j + 1)), 6).alias(f"p{j}")
                for j in range(4)
            ],
        )
    )


# --------------------------------------------------------------------------
# Real-container-format decode (R5/R12 executed on actual media bytes):
# WAV/RIFF PCM16 encode (stdlib ``wave`` writer) + an INDEPENDENT
# hand-rolled RIFF chunk parser for decode — no codec library needed, so
# this path runs end-to-end in this container, unlike the stub-gated
# mp3 path above. Reference parity: voice_classifier.py:80 loads audio
# files into sample arrays; here the same decode→features contract runs
# distributed, blobs crossing the Arrow boundary twice (encode stage →
# decode stage) without ever shuffling.

WAV_SR = 8000  # fixed sample rate for the synthesized corpus


def encode_wav_pcm16(samples: np.ndarray, sr: int = WAV_SR) -> bytes:
    """Encode an int16 sample array as a WAV (RIFF PCM16 mono) blob via
    the stdlib ``wave`` writer — the R9 'encode sink' kernel shape."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav_pcm16(blob: bytes) -> tuple[int, np.ndarray]:
    """Decode a WAV (RIFF PCM16 mono) blob into (sample_rate, int16
    samples) by walking the RIFF chunk list directly — deliberately NOT
    the stdlib reader, so encode and decode are independent
    implementations and the roundtrip is a genuine differential."""
    if blob[0:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sr = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16 or n_channels != 1:
        raise ValueError("only PCM16 mono supported")
    return sr, np.frombuffer(data, dtype="<i2")


def synth_samples(doc_id: int) -> np.ndarray:
    """Deterministic integer waveform for doc_id: a sawtooth-ish signal
    from pure int64 arithmetic — bit-exact reproducible in ANY engine
    (no libm sin() whose last-ulp can differ cross-engine), values in
    [-1024, 1023] so PCM16 quantization is lossless."""
    n = 200 + doc_id % 57
    k = 3 + doc_id % 11
    i = np.arange(n, dtype=np.int64)
    return ((i * k + doc_id) % 2048 - 1024).astype(np.int16)


@query(
    "mm_wav_decode_stats",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   200 + doc_id % 57 AS n,
                   3 + doc_id % 11  AS k
            FROM documents
        ),
        s AS (
            SELECT doc_id, n,
                   (unnest(range(0, n)) * k + doc_id) % 2048 - 1024 AS smp
            FROM d
        ),
        f AS (
            SELECT doc_id,
                   MAX(n)            AS n_samples,
                   MAX(ABS(smp))     AS peak,
                   SUM(smp)          AS ssum,
                   SUM(smp * smp)    AS energy
            FROM s GROUP BY doc_id
        )
        SELECT doc_id % 8                    AS bucket,
               CAST(COUNT(*) AS BIGINT)      AS n_media,
               CAST(SUM(n_samples) AS BIGINT) AS total_samples,
               CAST(MAX(peak) AS BIGINT)     AS max_peak,
               CAST(SUM(ssum) AS BIGINT)     AS sum_amplitude,
               CAST(SUM(energy) AS BIGINT)   AS total_energy
        FROM f GROUP BY bucket ORDER BY bucket
    """,
    tags=("multimodal", "mapInPandas", "wav", "decode"),
)
def mm_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end: synthesize a deterministic integer
    waveform per document, encode it into an actual WAV/RIFF PCM16
    container (stdlib writer) in one mapInPandas stage, decode it with
    the independent hand-rolled RIFF parser in a SECOND stage, and
    aggregate statistics of the DECODED samples. The DuckDB oracle
    recomputes the same statistics from the waveform formula directly —
    so the check passes only if container encode → container decode is
    byte-faithful. This executes the reference's audio-load contract
    (voice_classifier.py:80) on real container bytes, not a stub.

    Scale: both kernels are map-only Arrow stages (blobs never
    shuffle); features are 5 ints per media row, so the shuffle after
    decode moves ~40 bytes/row regardless of media size — the shape a
    100 TB media featurization job must have."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "wav": [
                        encode_wav_pcm16(synth_samples(int(i)))
                        for i in pdf["doc_id"]
                    ],
                }
            )

    wavs = d.mapInPandas(encode, schema="media_id long, wav binary")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["wav"]):
                sr, smp = decode_wav_pcm16(bytes(blob))
                s64 = smp.astype(np.int64)
                rows.append(
                    (
                        mid,
                        sr,
                        len(smp),
                        int(np.abs(s64).max()),
                        int(s64.sum()),
                        int((s64 * s64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sr",
                    "n_samples",
                    "peak",
                    "ssum",
                    "energy",
                ],
            )

    feats = wavs.mapInPandas(
        decode,
        schema=(
            "media_id long, sr int, n_samples long, peak long,"
            " ssum long, energy long"
        ),
    )
    return (
        feats.groupBy((F.col("media_id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_samples").alias("total_samples"),
            F.max("peak").alias("max_peak"),
            F.sum("ssum").alias("sum_amplitude"),
            F.sum("energy").alias("total_energy"),
        )
        .orderBy("bucket")
    )


# Ship THIS module's code to Python workers by value: the driver harness
# may run with a cwd/PYTHONPATH where this repo is not importable, and
# the Arrow-batched kernels above reference module-level helpers that
# cloudpickle would otherwise serialize as import references.
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


WAV_SR_OUT = 4000  # R9 resample target: 8 kHz -> 4 kHz by 2:1 decimation


@query(
    "mm_wav_resample_sink",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   200 + doc_id % 57 AS n,
                   3 + doc_id % 11  AS k
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(FLOOR((n + 1) / 2) AS BIGINT) AS n2,
                   (unnest(range(0, n, 2)) * k + doc_id) % 2048 - 1024 AS smp
            FROM d
        ),
        f AS (
            SELECT doc_id,
                   MAX(n2)        AS n_samples,
                   MAX(ABS(smp))  AS peak,
                   SUM(smp)       AS ssum,
                   SUM(smp * smp) AS energy
            FROM s GROUP BY doc_id
        )
        SELECT doc_id % 8                     AS bucket,
               CAST(COUNT(*) AS BIGINT)       AS n_media,
               CAST(SUM(n_samples) AS BIGINT) AS total_samples,
               CAST(MAX(peak) AS BIGINT)      AS max_peak,
               CAST(SUM(ssum) AS BIGINT)      AS sum_amplitude,
               CAST(SUM(energy) AS BIGINT)    AS total_energy,
               CAST(4000 AS INTEGER)          AS sr_out
        FROM f GROUP BY bucket ORDER BY bucket
    """,
    tags=("multimodal", "mapInPandas", "wav", "resample", "sink"),
)
def mm_wav_resample_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's R9 resample+encode SINK
    (``/root/reference/src/data_generator.py:26-27`` — load, set frame
    rate, export) executed for real: synthesize → encode WAV 8 kHz →
    RESAMPLE to 4 kHz by 2:1 integer decimation inside a map-only
    kernel (decode → take every 2nd sample → re-encode, pure integer so
    it is engine-reproducible, unlike an interpolating polyphase whose
    float taps would not be) → write the resampled blobs to a PARQUET
    SINK → read them back → decode with the independent RIFF parser and
    aggregate statistics of the decoded samples. The oracle recomputes
    the stats from the even-index waveform formula, so the row only
    matches if resample, container write, file sink, scan, and decode
    are all byte-faithful — closing the one reference behavior
    (R9) previously stub-gated.

    Scale: every media-touching stage is map-only (blobs never
    shuffle); the sink is a plain columnar write whose binary column
    any engine can scan back; post-decode rows are 6 ints each."""
    import os

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_wavs = [], []
            for i in pdf["doc_id"]:
                wav8 = encode_wav_pcm16(synth_samples(int(i)), WAV_SR)
                sr, smp = decode_wav_pcm16(wav8)
                assert sr == WAV_SR
                out_ids.append(i)
                out_wavs.append(encode_wav_pcm16(smp[::2], WAV_SR_OUT))
            yield pd.DataFrame({"media_id": out_ids, "wav": out_wavs})

    wavs = d.mapInPandas(resample, schema="media_id long, wav binary")
    path = os.path.join(_SCRATCH, "mm_wav_resample_sink")
    wavs.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["wav"]):
                sr, smp = decode_wav_pcm16(bytes(blob))
                s64 = smp.astype(np.int64)
                rows.append(
                    (
                        mid,
                        sr,
                        len(smp),
                        int(np.abs(s64).max()),
                        int(s64.sum()),
                        int((s64 * s64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sr", "n_samples", "peak", "ssum", "energy"],
            )

    feats = back.mapInPandas(
        decode,
        schema=(
            "media_id long, sr int, n_samples long, peak long,"
            " ssum long, energy long"
        ),
    )
    return (
        feats.groupBy((F.col("media_id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_samples").alias("total_samples"),
            F.max("peak").alias("max_peak"),
            F.sum("ssum").alias("sum_amplitude"),
            F.sum("energy").alias("total_energy"),
            F.max("sr").alias("sr_out"),
        )
        .orderBy("bucket")
    )


TTS_CHARS = 8  # synthesize the first N characters of each document
TTS_SAMPLES_PER_CHAR = 64


@query(
    "mm_tts_synthesize_stats",
    oracle=f"""
        WITH chars AS (
            SELECT doc_id, unicode(substr(text, i, 1)) AS code
            FROM documents, UNNEST(range(1, {TTS_CHARS + 1})) AS t(i)
            WHERE length(text) >= i
        ),
        s AS (
            SELECT doc_id,
                   (unnest(range(0, {TTS_SAMPLES_PER_CHAR}))
                        * (3 + code % 11) + code) % 2048 - 1024 AS smp
            FROM chars
        ),
        f AS (
            SELECT doc_id,
                   COUNT(*)          AS n_samples,
                   MAX(ABS(smp))     AS peak,
                   SUM(smp)          AS ssum,
                   SUM(smp * smp)    AS energy
            FROM s GROUP BY doc_id
        )
        SELECT doc_id % 8                     AS bucket,
               CAST(COUNT(*) AS BIGINT)       AS n_media,
               CAST(SUM(n_samples) AS BIGINT) AS total_samples,
               CAST(MAX(peak) AS BIGINT)      AS max_peak,
               CAST(SUM(ssum) AS BIGINT)      AS sum_amplitude,
               CAST(SUM(energy) AS BIGINT)    AS total_energy
        FROM f GROUP BY bucket ORDER BY bucket
    """,
    tags=("multimodal", "mapInPandas", "wav", "tts"),
)
def mm_tts_synthesize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's R4 TTS contract (``/root/reference/src/tts.py:4-16``
    — text in, audio container out) executed for real: a deterministic
    per-character tone synthesizer (char code -> sawtooth parameters,
    pure integer arithmetic — pyttsx3 is absent AND non-reproducible,
    so the mandate's deterministic stand-in IS the cross-engine
    contract) renders each document's first 8 characters to PCM16,
    encodes a real WAV container, and a second map stage decodes it
    with the independent RIFF parser and aggregates decoded-sample
    statistics. The oracle recomputes the same statistics from the
    character formula (chars x samples double-unnest), so the row
    matches only if text->samples->container->decode is byte-faithful.
    Upgrades R4 from a stub-gated shape to an executed path, like R9's
    resample sink.

    Scale: text never shuffles (synthesis is map-only); decoded
    features are 4 ints per document."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, wavs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                pieces = []
                for ch in (text or "")[:TTS_CHARS]:
                    code = ord(ch)
                    k = 3 + code % 11
                    i = np.arange(TTS_SAMPLES_PER_CHAR, dtype=np.int64)
                    pieces.append((i * k + code) % 2048 - 1024)
                if not pieces:
                    continue
                samples = np.concatenate(pieces).astype(np.int16)
                ids.append(did)
                wavs.append(encode_wav_pcm16(samples, WAV_SR))
            yield pd.DataFrame({"media_id": ids, "wav": wavs})

    wavs = d.mapInPandas(synth, schema="media_id long, wav binary")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["wav"]):
                _, smp = decode_wav_pcm16(bytes(blob))
                s64 = smp.astype(np.int64)
                rows.append(
                    (
                        mid,
                        len(smp),
                        int(np.abs(s64).max()),
                        int(s64.sum()),
                        int((s64 * s64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "peak", "ssum", "energy"]
            )

    feats = wavs.mapInPandas(
        decode,
        schema="media_id long, n_samples long, peak long, ssum long, energy long",
    )
    return (
        feats.groupBy((F.col("media_id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_samples").alias("total_samples"),
            F.max("peak").alias("max_peak"),
            F.sum("ssum").alias("sum_amplitude"),
            F.sum("energy").alias("total_energy"),
        )
        .orderBy("bucket")
    )


_PHASH_ORACLE = """
    WITH reps AS (
        SELECT MIN(doc_id) AS media_id, MIN(length(text)) AS L, MIN(text) AS text
        FROM documents
        WHERE length(text) > 1
        GROUP BY md5(text)
    ),
    h AS (
        SELECT media_id,
               list_sum(list_transform(range(0,32), i ->
                 CASE WHEN ascii(substring(text, CAST(1 + (i*(L-1))//65 AS INT), 1))
                         > ascii(substring(text, CAST(1 + ((i+1)*(L-1))//65 AS INT), 1))
                      THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS h1,
               list_sum(list_transform(range(32,64), i ->
                 CASE WHEN ascii(substring(text, CAST(1 + (i*(L-1))//65 AS INT), 1))
                         > ascii(substring(text, CAST(1 + ((i+1)*(L-1))//65 AS INT), 1))
                      THEN (1::BIGINT << (i-32)) ELSE 0::BIGINT END)) AS h2
        FROM reps
    ),
    bands AS (
        SELECT media_id, h1, h2, b.band_no,
               CASE b.band_no WHEN 0 THEN h1 & 65535 WHEN 1 THEN h1 // 65536
                              WHEN 2 THEN h2 & 65535 ELSE h2 // 65536 END AS band_val
        FROM h, (SELECT unnest(range(0,4)) AS band_no) b
    ),
    cand AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
               CAST(bit_count(xor(a.h1, b.h1))
                  + bit_count(xor(a.h2, b.h2)) AS INT) AS hamming
        FROM bands a JOIN bands b
          ON a.band_no = b.band_no AND a.band_val = b.band_val
         AND a.media_id < b.media_id
    )
    SELECT id_a, id_b, hamming
    FROM cand ORDER BY hamming, id_a, id_b LIMIT 200
"""


def _dhash_half(lo: int, hi: int, shift: int):
    """One 32-bit half of the 64-bit dHash, packed into a non-negative
    BIGINT (two halves avoid the signed shiftleft(1L, 63) overflow)."""
    return F.expr(
        f"""
        aggregate(sequence({lo}, {hi - 1}), 0L, (acc, i) -> acc +
          CASE WHEN ascii(substring(text, CAST(1 + (i*(L-1)) div 65 AS INT), 1))
                  > ascii(substring(text, CAST(1 + ((i+1)*(L-1)) div 65 AS INT), 1))
               THEN shiftleft(1L, i - {shift}) ELSE 0L END)
        """
    )


@query(
    "mm_phash_banded_neardup",
    oracle=_PHASH_ORACLE,
    tags=("multimodal", "dedup", "lsh", "documents"),
)
def mm_phash_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate candidate join over blob content:
    a 64-bit dHash (compare 65 evenly-sampled bytes pairwise) per blob,
    banded into 4x16-bit keys, candidates via band equi-join, exact
    Hamming verification, top-200 closest pairs.

    This is the image-dedup shape (reference has no analog; mandated
    multimodal surface): with real codecs the 65 samples would be the
    9x8 downscaled grayscale grid of pydub/PIL pixels instead of text
    bytes — the banding, join, and verify stages are identical.

    100 TB design: exact duplicates collapse FIRST on a 128-bit digest
    (text/blob never shuffles — the hash halves are computed map-side
    and only (digest, id, h1, h2) moves); the candidate join is an
    equi-join on (band_no, band_val) — Hamming-space LSH, never
    all-pairs; verification is a constant-time xor/bit_count on the
    joined row. Output is bounded via TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 1)
    perdoc = d.select(
        F.col("doc_id"),
        F.md5("text").alias("dig"),
        F.length("text").alias("L"),
        F.col("text"),
    ).select(
        "doc_id",
        "dig",
        _dhash_half(0, 32, 0).alias("h1"),
        _dhash_half(32, 64, 32).alias("h2"),
    )
    reps = perdoc.groupBy("dig").agg(
        F.min("doc_id").alias("media_id"),
        F.min("h1").alias("h1"),
        F.min("h2").alias("h2"),
    )
    bands = reps.select(
        "media_id",
        "h1",
        "h2",
        F.posexplode(
            F.array(
                F.col("h1").bitwiseAND(F.lit(65535)),
                F.shiftright("h1", 16),
                F.col("h2").bitwiseAND(F.lit(65535)),
                F.shiftright("h2", 16),
            )
        ).alias("band_no", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_no") == F.col("b.band_no"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.media_id") < F.col("b.media_id"),
            ],
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            (
                F.bit_count(F.col("a.h1").bitwiseXOR(F.col("b.h1")))
                + F.bit_count(F.col("a.h2").bitwiseXOR(F.col("b.h2")))
            )
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.orderBy("hamming", "id_a", "id_b").limit(200)


# --- Scene-change detection over sampled frames ------------------------

SCENE_CUT_THRESHOLD = 96  # luminance jump (0-255 scale) that opens a scene


@query(
    "mm_scene_segments",
    oracle=f"""
        WITH fr AS (
            SELECT doc_id AS media_id, frame_no,
                   CAST(('0x' || substr(md5(substring(text,
                        CAST(frame_no * 256 + 1 AS INT), 64)), 1, 2))
                        AS INT) AS lum
            FROM (
                SELECT doc_id, text,
                       unnest(range(0, CAST(ceil(length(text) / 256.0)
                                            AS BIGINT))) AS frame_no
                FROM documents
            )
        ),
        chg AS (
            SELECT media_id, frame_no, lum,
                   CASE WHEN LAG(lum) OVER w IS NULL
                        OR ABS(lum - LAG(lum) OVER w)
                           > {SCENE_CUT_THRESHOLD}
                        THEN 1 ELSE 0 END AS cut
            FROM fr
            WINDOW w AS (PARTITION BY media_id ORDER BY frame_no)
        ),
        sc AS (
            SELECT media_id, frame_no, lum,
                   SUM(cut) OVER (PARTITION BY media_id
                                  ORDER BY frame_no) AS scene_id
            FROM chg
        )
        SELECT media_id, CAST(scene_id AS BIGINT) AS scene_id,
               CAST(MIN(frame_no) AS BIGINT) AS start_frame,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               ROUND(SUM(lum) * 1.0 / COUNT(*), 4) AS avg_lum
        FROM sc GROUP BY media_id, scene_id
        ORDER BY media_id, scene_id
    """,
    tags=("multimodal", "mapInPandas", "scene-detect", "window"),
)
def mm_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection (mandated video-style op): every sampled
    frame (the mm_frame_sample 64-unit slices at stride 256) reduces
    to a scalar luminance in the Arrow-batched kernel — here the stub
    decode maps a frame to its md5 first byte, standing in for the
    mean-pixel-luma a codec build would compute — and a cut opens
    wherever consecutive-frame luminance jumps more than 96/255. Cuts
    accumulate to scene ids (running sum), scenes aggregate to
    (start_frame, n_frames, avg_lum) rows.

    Like mm_frame_sample, the pandas kernel is SQL-expressible, so the
    DuckDB oracle differential-tests the UDF against an independent
    substring/md5 evaluation — the whole lag/threshold/cumsum chain is
    verified value-for-value. Scale shape: decode is map-only (text
    never shuffles — only (media_id, frame_no, lum) triples move); the
    lag and scene-id windows both partition per media, the exact shape
    a per-video pipeline needs (one video's frames colocate; no global
    ordering anywhere).

    Reference analog: the frame-batching of
    /root/reference/src/voice_classifier.py:80-83 generalized to the
    temporal-segmentation stage a video curation pipeline runs.
    """
    import hashlib

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )

    def luma(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, lums = [], [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                for k in range(-(-len(text) // 256)):  # ceil(len/256)
                    frame = text[k * 256 : k * 256 + 64]
                    ids.append(mid)
                    frame_nos.append(k)
                    lums.append(
                        int(hashlib.md5(frame.encode("utf-8")).hexdigest()[:2], 16)
                    )
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "lum": lums}
            )

    fr = d.mapInPandas(luma, schema="media_id long, frame_no long, lum int")
    w = Window.partitionBy("media_id").orderBy("frame_no")
    chg = fr.select(
        "media_id",
        "frame_no",
        "lum",
        F.when(
            F.lag("lum").over(w).isNull()
            | (F.abs(F.col("lum") - F.lag("lum").over(w)) > SCENE_CUT_THRESHOLD),
            1,
        )
        .otherwise(0)
        .alias("cut"),
    )
    sc = chg.select(
        "media_id",
        "frame_no",
        "lum",
        F.sum("cut").over(w).alias("scene_id"),
    )
    return (
        sc.groupBy("media_id", F.col("scene_id").cast("bigint").alias("scene_id"))
        .agg(
            F.min("frame_no").cast("bigint").alias("start_frame"),
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.round(F.sum("lum") * 1.0 / F.count(F.lit(1)), 4).alias("avg_lum"),
        )
        .orderBy("media_id", "scene_id")
    )


# ---------------------------------------------------------------------------
# mapInPandas: byte-level payload histogram (Arrow batch processing)
# ---------------------------------------------------------------------------

BYTE_BUCKETS = 16


@query(
    "mm_payload_byte_histogram",
    oracle=f"""
        WITH ch AS (
            SELECT doc_id, UNNEST(string_split_regex(text, '')) AS c
            FROM documents
        )
        SELECT CAST(ascii(c) // {BYTE_BUCKETS} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT)                   AS n_bytes,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT)     AS n_docs
        -- ascii(c) < 128 pins the bytes==codepoints contract the Spark
        -- side asserts with payload.isascii(): a non-ASCII char would
        -- otherwise count 2+ UTF-8 bytes here vs one codepoint (r07
        -- advice) — with the guard, divergence becomes a loud Spark
        -- error instead of a silent hash mismatch
        FROM ch WHERE c <> '' AND ascii(c) < 128
        GROUP BY ascii(c) // {BYTE_BUCKETS}
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAYLOAD BYTE HISTOGRAM via ``mapInPandas``: each Arrow batch of
    documents is scanned in Python as RAW BYTES (the opaque-payload
    discipline every binary-column pipeline needs — here the payload
    happens to be ASCII text so the oracle can restate it with
    ``ascii()``), emitting per-batch PARTIAL (bucket, count, doc-set)
    rows that one tiny groupBy folds — the map-side-combine shape that
    keeps the Python boundary O(batches), not O(bytes). The per-doc
    de-dup for n_docs rides the partials as distinct doc ids only for
    buckets the doc actually hits. All integers; decoders for real
    media formats are the stubbed step, the Spark-side plumbing here
    is the real contract (family: ``mm_metadata_stats``,
    ``mm_maparrow_bytelen``)."""
    from collections import Counter

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = text.encode("utf-8")
                # bytes==codepoints only holds for ASCII; the oracle
                # counts codepoints (ascii(c) < 128 guard), so fail
                # LOUDLY if the generator ever emits non-ASCII text
                # rather than silently diverging (r07 advice)
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                cnt = Counter(b // BYTE_BUCKETS for b in payload)
                rows += [
                    (int(doc_id), int(bucket), int(n))
                    for bucket, n in cnt.items()
                ]
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "bucket", "partial"]
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    partials = d.mapInPandas(
        batches, "doc_id long, bucket long, partial long"
    )
    return partials.groupBy("bucket").agg(
        F.sum("partial").cast("bigint").alias("n_bytes"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# mapInPandas: Adler-32 payload checksum (binary integrity fingerprint)
# ---------------------------------------------------------------------------

ADLER_MOD = 65521  # largest prime below 2^16 (the zlib constant)


@query(
    "mm_payload_adler_checksum",
    oracle=f"""
        WITH ch AS (
            SELECT doc_id,
                   UNNEST(string_split_regex(text, '')) AS c,
                   CAST(generate_subscripts(
                        string_split_regex(text, ''), 1) AS BIGINT) AS i,
                   CAST(length(text) AS BIGINT) AS n
            FROM documents
        ),
        -- ascii(c) < 128 pins the bytes==codepoints contract the Spark
        -- side asserts with payload.isascii() (same guard as
        -- mm_payload_byte_histogram)
        s AS (
            SELECT doc_id, MAX(n) AS n,
                   CAST((1 + SUM(ascii(c))) % {ADLER_MOD} AS BIGINT) AS s1,
                   CAST((MAX(n) + SUM((n - i + 1) * ascii(c)))
                        % {ADLER_MOD} AS BIGINT) AS s2
            FROM ch WHERE c <> '' AND ascii(c) < 128
            GROUP BY doc_id
        )
        -- LEFT JOIN from documents: an EMPTY payload must still emit a
        -- row with adler32(b'') = 1 (s1=1, s2=0), exactly as zlib does
        -- on the Spark side — the WHERE c <> '' filter would otherwise
        -- drop the doc entirely and diverge silently (r08 review;
        -- string_split_regex('','') yields [''])
        SELECT d.doc_id,
               COALESCE(s.n, 0)                      AS n_bytes,
               CAST(COALESCE(s.s2, 0) * 65536
                    + COALESCE(s.s1, 1) AS BIGINT)   AS adler32
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_adler_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADLER-32 payload checksum via ``mapInPandas``: each Arrow batch
    of documents is fingerprinted in Python as RAW BYTES with
    ``zlib.adler32`` — the integrity-checksum step every binary-column
    ingest (image/audio/video payload) runs before and after transport
    — while the oracle restates the checksum from its POSITIONAL
    definition (s1 = 1 + Σb mod 65521; s2 = n + Σ(n−i+1)·b mod 65521;
    adler = s2·2¹⁶ + s1), a genuinely independent formulation of the
    same integer. The payload here is ASCII text, so bytes ==
    codepoints — asserted loudly on the Spark side (the
    ``mm_payload_byte_histogram`` contract). Pure integer arithmetic
    end-to-end: nothing to ROUND, no float anywhere. Python boundary
    emits ONE row per document (never per byte); at 100 TB the
    checksum rides the same scan that decodes the payload."""
    import zlib

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                payload = text.encode("utf-8")
                rows.append(
                    (
                        int(doc_id),
                        len(payload),
                        int(zlib.adler32(payload)),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "n_bytes", "adler32"]
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(batches, "doc_id long, n_bytes long, adler32 long")


# ---------------------------------------------------------------------------
# mapInPandas: run-length structure of the payload bytes
# ---------------------------------------------------------------------------


@query(
    "mm_payload_rle_runs",
    oracle="""
        WITH ch AS (
            SELECT doc_id,
                   UNNEST(string_split_regex(text, '')) AS c,
                   CAST(generate_subscripts(
                        string_split_regex(text, ''), 1) AS BIGINT) AS i
            FROM documents
        ),
        -- string_split_regex('','') yields [''] — drop the phantom so
        -- an empty payload contributes zero characters (same contract
        -- as mm_payload_adler_checksum, r08 review)
        marks AS (
            SELECT doc_id, i,
                   CASE WHEN LAG(c) OVER (PARTITION BY doc_id ORDER BY i)
                             IS DISTINCT FROM c
                        THEN 1 ELSE 0 END AS new_run
            FROM ch WHERE c <> ''
        ),
        runs AS (
            SELECT doc_id, i,
                   CAST(SUM(new_run) OVER (PARTITION BY doc_id ORDER BY i)
                        AS BIGINT) AS run_id
            FROM marks
        ),
        rl AS (
            SELECT doc_id, run_id, CAST(COUNT(*) AS BIGINT) AS rlen
            FROM runs GROUP BY doc_id, run_id
        ),
        s AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
                   CAST(MAX(rlen) AS BIGINT)        AS max_run
            FROM rl GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_bytes,
               COALESCE(s.n_runs, 0)          AS n_runs,
               COALESCE(s.max_run, 0)         AS max_run
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_rle_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUN-LENGTH structure of the payload bytes via ``mapInPandas``:
    each Arrow batch is scanned in Python with ``itertools.groupby``
    (the RLE primitive every binary-payload compressor/profiler runs
    first — a payload whose max_run is large is blank-padded or
    synthetic), while the oracle restates the runs RELATIONALLY: a LAG
    change-mark, a running-sum run-id, and a per-run count — two
    genuinely different formulations of the same partition of the byte
    string. ASCII payloads keep bytes == codepoints (asserted loudly,
    the mm_payload_byte_histogram contract); empty payloads emit
    (0, 0, 0) via the documents LEFT JOIN on the oracle side and the
    groupby-of-empty on the Spark side. Pure integers end-to-end; the
    Python boundary emits ONE row per document. At 100 TB the kernel
    rides the payload-decode scan — no shuffle at all."""
    import itertools

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                payload = text.encode("utf-8")
                run_lens = [
                    len(list(g)) for _, g in itertools.groupby(payload)
                ]
                rows.append(
                    (
                        int(doc_id),
                        len(payload),
                        len(run_lens),
                        max(run_lens, default=0),
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "n_bytes", "n_runs", "max_run"]
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        batches, "doc_id long, n_bytes long, n_runs long, max_run long"
    )


# ---------------------------------------------------------------------------
# mapInPandas: payload popcount / bit density
# ---------------------------------------------------------------------------


@query(
    "mm_payload_bit_density",
    oracle="""
        WITH ch AS (
            SELECT doc_id, ascii(UNNEST(string_split_regex(text, ''))) AS b
            FROM documents
        ),
        s AS (
            -- shift-and-mask popcount: ASCII < 128 pins bit 7 to zero,
            -- so 7 masked shifts cover the byte (the Spark side
            -- asserts the same contract with payload.isascii())
            SELECT doc_id,
                   CAST(SUM((b & 1) + ((b >> 1) & 1) + ((b >> 2) & 1)
                          + ((b >> 3) & 1) + ((b >> 4) & 1)
                          + ((b >> 5) & 1) + ((b >> 6) & 1))
                        AS BIGINT) AS total_bits
            FROM ch WHERE b IS NOT NULL AND b > 0 AND b < 128
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_bytes,
               COALESCE(s.total_bits, 0)      AS total_bits,
               CASE WHEN length(d.text) > 0
                    THEN ROUND(CAST(COALESCE(s.total_bits, 0) AS DOUBLE)
                               / (8 * length(d.text)), 6) + 0
               END AS ones_frac
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_bit_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAYLOAD POPCOUNT via ``mapInPandas``: each Arrow batch's bytes
    are bit-unpacked VECTORIZED in numpy (``unpackbits`` over
    ``frombuffer`` — the entropy-proxy fingerprint a multimodal ingest
    computes to flag all-zero / saturated / encrypted payloads), while
    the oracle restates the popcount as seven masked shifts summed
    relationally — independent formulations of the same integer.
    ASCII guard pins bytes == codepoints (and bit 7 == 0, which the
    oracle's 7-shift form exploits; ascii('\\0') cannot occur in a
    parquet string column and b > 0 merely documents that). The
    ones_frac ratio is ONE float division of exact integers done
    JVM-SIDE after the kernel (never in Python — round-half behavior
    differs), oracle ``+ 0``-guarded. One row per document out of the
    Python boundary; at 100 TB the kernel rides the decode scan."""
    import numpy as np

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                payload = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                rows.append(
                    (
                        int(doc_id),
                        int(payload.size),
                        int(np.unpackbits(payload).sum()) if payload.size else 0,
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "n_bytes", "total_bits"]
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counted = d.mapInPandas(
        batches, "doc_id long, n_bytes long, total_bits long"
    )
    return counted.select(
        "doc_id",
        "n_bytes",
        "total_bits",
        F.when(
            F.col("n_bytes") > 0,
            F.round(
                F.col("total_bits").cast("double") / (8 * F.col("n_bytes")), 6
            ),
        ).alias("ones_frac"),
    )


# ---------------------------------------------------------------------------
# mapInPandas: Fletcher-16 payload checksum
# ---------------------------------------------------------------------------

FLETCHER_MOD = 255


@query(
    "mm_payload_fletcher16",
    oracle=f"""
        WITH ch AS (
            SELECT doc_id,
                   ascii(UNNEST(string_split_regex(text, ''))) AS b,
                   CAST(generate_subscripts(
                        string_split_regex(text, ''), 1) AS BIGINT) AS i,
                   CAST(length(text) AS BIGINT) AS n
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(SUM(b) % {FLETCHER_MOD} AS BIGINT) AS s1,
                   CAST(SUM((n - i + 1) * b) % {FLETCHER_MOD} AS BIGINT) AS s2
            FROM ch WHERE b IS NOT NULL AND b > 0 AND b < 128
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_bytes,
               CAST(COALESCE(s.s2, 0) * 256
                    + COALESCE(s.s1, 0) AS BIGINT) AS fletcher16
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_fletcher16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLETCHER-16 payload checksum via ``mapInPandas``: the
    position-weighted integrity check (RFC 1146 family; Adler-32's
    little sibling with mod 255 and no +1 offsets) computed VECTORIZED
    in numpy — s1 = Σb mod 255, s2 = Σ(cumsum b) mod 255, where
    Σcumsum(b) ≡ Σ(n−i+1)·b is exactly the positional restatement the
    oracle runs relationally: two genuinely independent formulations
    of the same pair of integers (the numpy side never materializes a
    position index at all). ASCII contract asserted per document;
    empty payloads pin fletcher16(b'') = 0 via the documents LEFT
    JOIN (the r08 Adler review class — a checksum oracle must never
    silently DROP a row the kernel emits). Pure integers; one Arrow
    row per document; at 100 TB the kernel rides the payload-decode
    scan."""
    import numpy as np

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                if b.size:
                    s1 = int(b.sum(dtype=np.int64)) % FLETCHER_MOD
                    s2 = int(np.cumsum(b, dtype=np.int64).sum()) % FLETCHER_MOD
                else:
                    s1 = s2 = 0
                rows.append((int(doc_id), int(b.size), s2 * 256 + s1))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["doc_id", "n_bytes", "fletcher16"]
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        batches, "doc_id long, n_bytes long, fletcher16 long"
    )


# ---------------------------------------------------------------------------
# mapInPandas: Shannon entropy of the payload byte distribution
# ---------------------------------------------------------------------------


@query(
    "mm_payload_shannon_entropy",
    oracle="""
        WITH ch AS (
            SELECT doc_id,
                   ascii(UNNEST(string_split_regex(text, ''))) AS b
            FROM documents
        ),
        counts AS (
            SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
            FROM ch WHERE b IS NOT NULL AND b > 0
            GROUP BY doc_id, b
        ),
        folded AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_bytes,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   list_sum(list(c * LOG2(c) ORDER BY b)) AS s
            FROM counts GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(f.n_bytes, 0)    AS n_bytes,
               COALESCE(f.n_distinct, 0) AS n_distinct,
               CASE WHEN f.n_bytes > 0
                    THEN ROUND(LOG2(f.n_bytes) - f.s / f.n_bytes, 6) + 0
                    ELSE NULL END AS entropy_bits
        FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_shannon_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHANNON ENTROPY of the payload byte distribution via
    ``mapInPandas`` — the compressibility/randomness probe every
    binary-ingest pipeline runs before deciding codec treatment (text
    ~4.5 bits; ciphertext ~8). The kernel bincounts bytes in numpy and
    folds c·log2(c) SEQUENTIALLY in ascending byte order — exactly the
    oracle's ``list_sum(list(c*LOG2(c) ORDER BY b))`` — then H =
    log2(n) − s/n as ONE fixed-order float expression (the algebraic
    restatement of −Σp·log2 p that keeps every intermediate exact-int
    derived; a np.sum pairwise reduction would be ULP-divergent from
    the SQL fold). The kernel emits FULL precision and the ROUND runs
    JVM-side (Python round() is half-even, engine ROUND half-away —
    the bit_density divergence class); the oracle's ``+ 0`` guards the
    single-byte-value payload, where log2(n) − n·log2(n)/n can land a
    half-ULP below zero. ASCII contract asserted per document (byte ==
    codepoint); empty payloads survive as NULL via the LEFT JOIN. One
    Arrow row per document; at 100 TB the kernel rides the decode
    scan, nothing shuffles."""
    import math

    import numpy as np

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                n = int(b.size)
                if n:
                    counts = np.bincount(b)
                    present = counts[counts > 0]
                    s = 0.0
                    for c in present:  # ascending byte order: bincount
                        c = float(int(c))
                        s += c * math.log2(c)
                    # full precision out of the kernel; ROUND happens
                    # JVM-side below (Python round() is half-EVEN, the
                    # engines round half-away — the bit_density class)
                    h = math.log2(n) - s / n
                    rows.append((int(doc_id), n, int(present.size), h))
                else:
                    rows.append((int(doc_id), 0, 0, None))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["doc_id", "n_bytes", "n_distinct", "entropy_bits"],
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = d.mapInPandas(
        batches,
        "doc_id long, n_bytes long, n_distinct long, entropy_bits double",
    )
    return raw.select(
        "doc_id",
        "n_bytes",
        "n_distinct",
        F.round("entropy_bits", 6).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# mapInPandas: XOR checksum + per-byte popcount parity census
# ---------------------------------------------------------------------------


@query(
    "mm_payload_xor_parity",
    oracle="""
        WITH ch AS (
            SELECT doc_id,
                   CAST(ascii(UNNEST(string_split_regex(text, '')))
                        AS BIGINT) AS b
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT)            AS n_bytes,
                   CAST(bit_xor(b) AS BIGINT)          AS xor_byte,
                   CAST(SUM(bit_count(b)) AS BIGINT)   AS total_popcount,
                   CAST(SUM(bit_count(b) % 2) AS BIGINT) AS n_odd_parity
            FROM ch WHERE b IS NOT NULL AND b > 0
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(s.n_bytes, 0)        AS n_bytes,
               COALESCE(s.xor_byte, 0)       AS xor_byte,
               COALESCE(s.total_popcount, 0) AS total_popcount,
               COALESCE(s.n_odd_parity, 0)   AS n_odd_parity
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_xor_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XOR CHECKSUM + POPCOUNT PARITY census via ``mapInPandas`` — the
    longitudinal-redundancy check (LRC) and per-byte parity bits that
    serial-framing and RAID-style integrity layers compute, here as a
    vectorized Arrow kernel: xor_byte = ⊕ all bytes
    (np.bitwise_xor.reduce), total_popcount = Σ bit_count(b) via
    np.unpackbits, n_odd_parity = bytes whose popcount is odd. The
    oracle restates all three RELATIONALLY with DuckDB's bit_xor
    aggregate and bit_count scalar — genuinely independent
    formulations of the same pure integers (XOR is order-free, so no
    fold discipline needed). Empty payloads pin 0 via the documents
    LEFT JOIN (the Adler/Fletcher review class). One Arrow row per
    document; at 100 TB the kernel rides the payload scan."""
    import numpy as np

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                if b.size:
                    pops = np.unpackbits(b.reshape(-1, 1), axis=1).sum(axis=1)
                    rows.append(
                        (
                            int(doc_id),
                            int(b.size),
                            int(np.bitwise_xor.reduce(b)),
                            int(pops.sum(dtype=np.int64)),
                            int((pops % 2).sum(dtype=np.int64)),
                        )
                    )
                else:
                    rows.append((int(doc_id), 0, 0, 0, 0))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "doc_id",
                        "n_bytes",
                        "xor_byte",
                        "total_popcount",
                        "n_odd_parity",
                    ],
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        batches,
        "doc_id long, n_bytes long, xor_byte long, total_popcount long,"
        " n_odd_parity long",
    )


# ---------------------------------------------------------------------------
# mapInPandas: first-difference (delta) profile of the payload bytes
# ---------------------------------------------------------------------------


@query(
    "mm_payload_diff_profile",
    oracle="""
        WITH ch AS (
            SELECT doc_id,
                   CAST(ascii(UNNEST(string_split_regex(text, '')))
                        AS BIGINT) AS b,
                   CAST(generate_subscripts(
                        string_split_regex(text, ''), 1) AS BIGINT) AS i
            FROM documents
        ),
        d2 AS (
            SELECT a.doc_id, b2.b - a.b AS d
            FROM ch a JOIN ch b2
              ON a.doc_id = b2.doc_id AND b2.i = a.i + 1
        ),
        s AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT)                     AS n_steps,
                   CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                                AS n_up,
                   CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                                AS n_down,
                   CAST(SUM(ABS(d)) AS BIGINT)                  AS sum_abs_delta,
                   CAST(MAX(ABS(d)) AS BIGINT)                  AS max_abs_delta
            FROM d2 GROUP BY doc_id
        )
        SELECT doc.doc_id,
               COALESCE(s.n_steps, 0)       AS n_steps,
               COALESCE(s.n_up, 0)          AS n_up,
               COALESCE(s.n_down, 0)        AS n_down,
               COALESCE(s.sum_abs_delta, 0) AS sum_abs_delta,
               COALESCE(s.max_abs_delta, 0) AS max_abs_delta
        FROM documents doc LEFT JOIN s ON doc.doc_id = s.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_diff_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-DIFFERENCE (delta-encoding) profile of the payload bytes
    via ``mapInPandas`` — the statistic a delta/varint codec consults
    before choosing an encoding (small |Δ| = delta-friendly, monotone
    runs = RLE-on-delta friendly): step direction census (n_up /
    n_down), total and max |Δ|, all from np.diff on the byte array.
    The oracle restates the diffs RELATIONALLY as a positional
    self-join on i+1 (generate_subscripts — never bare ROW_NUMBER) —
    an independent formulation of the same exact integers. Payloads
    shorter than 2 bytes pin all-zeros via the documents LEFT JOIN.
    One Arrow row per document; at 100 TB the kernel rides the
    payload scan, the oracle's join stays inside one document (the
    production form IS the kernel — the join restatement exists only
    to cross-check it)."""
    import numpy as np

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                if b.size >= 2:
                    dd = np.diff(b.astype(np.int64))
                    ad = np.abs(dd)
                    rows.append(
                        (
                            int(doc_id),
                            int(dd.size),
                            int((dd > 0).sum()),
                            int((dd < 0).sum()),
                            int(ad.sum(dtype=np.int64)),
                            int(ad.max()),
                        )
                    )
                else:
                    rows.append((int(doc_id), 0, 0, 0, 0, 0))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "doc_id",
                        "n_steps",
                        "n_up",
                        "n_down",
                        "sum_abs_delta",
                        "max_abs_delta",
                    ],
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        batches,
        "doc_id long, n_steps long, n_up long, n_down long,"
        " sum_abs_delta long, max_abs_delta long",
    )


# ---------------------------------------------------------------------------
# mapInPandas: hierarchical chunk-sum tree (Merkle-style integrity)
# ---------------------------------------------------------------------------

CHUNK_BYTES = 64


@query(
    "mm_payload_chunk_sum_tree",
    oracle=f"""
        WITH ch AS (
            SELECT doc_id,
                   CAST(ascii(UNNEST(string_split_regex(text, '')))
                        AS BIGINT) AS b,
                   CAST(generate_subscripts(
                        string_split_regex(text, ''), 1) AS BIGINT) AS i
            FROM documents
        ),
        leaf AS (
            SELECT doc_id, (i - 1) // {CHUNK_BYTES} AS chunk,
                   CAST(SUM(b) AS BIGINT) AS csum
            FROM ch GROUP BY doc_id, (i - 1) // {CHUNK_BYTES}
        ),
        root AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(SUM(csum) AS BIGINT) AS root_sum,
                   CAST(SUM(csum * (chunk + 1)) AS BIGINT) AS weighted_sum,
                   CAST(MAX(csum) AS BIGINT) AS max_chunk_sum
            FROM leaf GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(r.n_chunks, 0)     AS n_chunks,
               COALESCE(r.root_sum, 0)     AS root_sum,
               COALESCE(r.weighted_sum, 0) AS weighted_sum,
               COALESCE(r.max_chunk_sum, 0) AS max_chunk_sum
        FROM documents d LEFT JOIN root r ON d.doc_id = r.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_chunk_sum_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL CHUNK-SUM TREE via ``mapInPandas`` — the
    Merkle-style two-level integrity layout every chunked blob store
    keeps (per-chunk digests + a root combining them; here the digest
    is the byte sum so the oracle can restate it relationally): the
    kernel pads-and-reshapes the byte array into 64-byte chunks
    (numpy reshape + row sums — one vectorized pass), emits the chunk
    count, root sum, POSITION-WEIGHTED root (Σ csum·(chunk+1) — the
    component that catches chunk REORDERING, which a plain root sum
    cannot), and the max chunk sum (the hot-chunk pointer). The
    oracle rebuilds the tree by integer-division bucketing over
    generate_subscripts positions. All exact integers; the weighted
    root grows ~max_csum·C²/2 with C chunks, so int64 holds to
    C ≈ 3×10⁷ chunks ≈ a 2 GiB single payload (the per-doc bound —
    documented; past it, escalate the weighted term to
    DECIMAL(38,0)/HUGEINT per the house idiom). Empty payloads pin
    zeros via the LEFT JOIN. One Arrow row per document."""
    import numpy as np

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                if b.size:
                    pad = (-b.size) % CHUNK_BYTES
                    m = np.pad(b, (0, pad)).astype(np.int64).reshape(
                        -1, CHUNK_BYTES
                    )
                    csums = m.sum(axis=1)
                    n = int(csums.size)
                    rows.append(
                        (
                            int(doc_id),
                            n,
                            int(csums.sum()),
                            int((csums * (np.arange(n) + 1)).sum()),
                            int(csums.max()),
                        )
                    )
                else:
                    rows.append((int(doc_id), 0, 0, 0, 0))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "doc_id",
                        "n_chunks",
                        "root_sum",
                        "weighted_sum",
                        "max_chunk_sum",
                    ],
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        batches,
        "doc_id long, n_chunks long, root_sum long, weighted_sum long,"
        " max_chunk_sum long",
    )


# ---------------------------------------------------------------------------
# mapInPandas: Luhn mod-10 checksum over the payload's digit characters
# ---------------------------------------------------------------------------


@query(
    "mm_payload_luhn_mod10",
    oracle="""
        WITH ch AS (
            SELECT doc_id,
                   ascii(UNNEST(string_split_regex(text, ''))) - 48 AS dgt,
                   CAST(generate_subscripts(
                        string_split_regex(text, ''), 1) AS BIGINT) AS i
            FROM documents
        ),
        digits AS (
            SELECT doc_id, dgt,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY i DESC) AS BIGINT) AS rpos
            FROM ch WHERE dgt BETWEEN 0 AND 9
        ),
        s AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_digits,
                   CAST(SUM(CASE WHEN rpos % 2 = 0
                            THEN CASE WHEN dgt * 2 > 9
                                      THEN dgt * 2 - 9 ELSE dgt * 2 END
                            ELSE dgt END) AS BIGINT) AS luhn_sum
            FROM digits GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(s.n_digits, 0) AS n_digits,
               COALESCE(s.luhn_sum, 0) AS luhn_sum,
               COALESCE(s.luhn_sum % 10 = 0, FALSE) AS luhn_valid
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
    tags=("multimodal", "mapInPandas", "documents"),
)
def mm_payload_luhn_mod10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUHN MOD-10 checksum over the payload's DIGIT characters — the
    checksum every PII-scrubbing pipeline computes while hunting
    card-number-shaped substrings (a 16-digit run that Luhn-validates
    is the redaction trigger): digits are doubled at every second
    position FROM THE RIGHT (the from-the-right convention is the
    whole trick — the kernel reverses the digit array, the oracle
    ranks ROW_NUMBER ... ORDER BY i DESC; two independent
    formulations of the same parity), doubled digits above 9 fold
    back by −9. Pure integers; digit-less payloads pin (0, 0, FALSE)
    via the LEFT JOIN — COALESCE on the BOOLEAN too, the easy one to
    forget. One Arrow row per document; at 100 TB the kernel rides
    the payload scan."""
    import numpy as np

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                assert text.isascii(), (
                    f"doc {doc_id}: non-ASCII text breaks the "
                    "byte==codepoint oracle contract"
                )
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                d = b[(b >= 48) & (b <= 57)].astype(np.int64) - 48
                if d.size:
                    r = d[::-1].copy()
                    dbl = r * np.where(np.arange(r.size) % 2 == 1, 2, 1)
                    dbl = np.where(dbl > 9, dbl - 9, dbl)
                    total = int(dbl.sum())
                    rows.append(
                        (int(doc_id), int(d.size), total, total % 10 == 0)
                    )
                else:
                    rows.append((int(doc_id), 0, 0, False))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["doc_id", "n_digits", "luhn_sum", "luhn_valid"],
                )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        batches,
        "doc_id long, n_digits long, luhn_sum long, luhn_valid boolean",
    )
