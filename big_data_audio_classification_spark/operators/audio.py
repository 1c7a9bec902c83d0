"""Distributed audio feature extraction (SURVEY §2.A R12–R15, M5).

The reference loads a whole mp3 into one numpy array and calls librosa
(``/root/reference/src/voice_classifier.py:80-83``). Neither fits 100 TB:
here the waveform is processed in **overlap-aware chunks** — each task
computes STFT frames for its own hop-aligned sample range plus
``n_fft − hop`` samples of overlap, so frame outputs tile exactly with no
cross-chunk shuffle (the hard part flagged in SURVEY §7).

librosa is not available in this container; the mel transform is
implemented in pure numpy inside an Arrow-batched ``mapInPandas``
(identical math: Hann window → |rfft|² → HTK mel filterbank). Divergence
from librosa defaults: ``center=False`` (no reflect padding) — padding
would couple chunk boundaries; documented per SURVEY §7.

Test corpus: deterministic synthetic waveforms (FIXTURES.md A4 — "no TTS
dependency in tests"): each recording is a two-harmonic sine keyed by
speaker, so any chunk task can generate exactly its sample range from
(rec_id, sample_index) alone — the generation stage is embarrassingly
parallel and drift-free.
"""

from __future__ import annotations

from collections.abc import Iterator

import math as _math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from big_data_audio_classification_spark.registry import query
from big_data_audio_classification_spark.sources.catalog import load_table

SR = 22050          # reference: librosa.load default, voice_classifier.py:80
N_FFT = 2048        # librosa melspectrogram default
HOP = 512           # librosa default
N_MELS = 20         # voice_classifier.py:82
FMAX = 8000.0       # voice_classifier.py:82
FRAMES_PER_CHUNK = 64
DB_FLOOR = -80.0    # librosa power_to_db top_db default


def hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f) / 700.0)


def mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m) / 2595.0) - 1.0)


def mel_filterbank(sr: int = SR, n_fft: int = N_FFT, n_mels: int = N_MELS,
                   fmax: float = FMAX) -> np.ndarray:
    """(n_mels, 1 + n_fft/2) triangular HTK-mel filterbank."""
    fft_freqs = np.linspace(0, sr / 2, 1 + n_fft // 2)
    mel_pts = np.linspace(hz_to_mel(0.0), hz_to_mel(fmax), n_mels + 2)
    hz_pts = mel_to_hz(mel_pts)
    fb = np.zeros((n_mels, len(fft_freqs)))
    for m in range(n_mels):
        lo, ctr, hi = hz_pts[m], hz_pts[m + 1], hz_pts[m + 2]
        up = (fft_freqs - lo) / (ctr - lo)
        down = (hi - fft_freqs) / (hi - ctr)
        fb[m] = np.maximum(0.0, np.minimum(up, down))
    return fb


def synth_samples(rec_id: int, start: int, count: int, sr: int = SR) -> np.ndarray:
    """Deterministic waveform samples [start, start+count) of recording
    ``rec_id``: two-harmonic sine, fundamental keyed by rec parity
    (Male/Female alternation, data_generator.py:18)."""
    f0 = 110.0 if rec_id % 2 == 0 else 220.0
    t = (np.arange(start, start + count, dtype=np.float64)) / sr
    return np.sin(2 * np.pi * f0 * t) + 0.3 * np.sin(2 * np.pi * 2 * f0 * t)


def mel_frames_of(samples: np.ndarray, fb: np.ndarray,
                  n_fft: int = N_FFT, hop: int = HOP) -> np.ndarray:
    """(n_frames, n_mels) mel power for every complete n_fft window at
    hop intervals within ``samples`` (center=False)."""
    n_frames = max(0, (len(samples) - n_fft) // hop + 1)
    if n_frames == 0:
        return np.zeros((0, fb.shape[0]))
    window = np.hanning(n_fft + 1)[:-1]
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    spec = np.abs(np.fft.rfft(samples[idx] * window, axis=1)) ** 2
    return spec @ fb.T


def recordings(spark: SparkSession, n_recordings: int = 8,
               seconds: float = 3.0) -> DataFrame:
    """Recording catalog: (rec_id, speaker, n_samples)."""
    return spark.range(n_recordings).select(
        F.col("id").alias("rec_id"),
        F.when(F.pmod("id", F.lit(2)) == 0, "Male").otherwise("Female").alias("speaker"),
        F.lit(int(seconds * SR)).alias("n_samples"),
    )


def chunk_grid(recs: DataFrame) -> DataFrame:
    """Explode each recording into hop-aligned chunk descriptors.
    chunk k owns global frames [k·FPC, (k+1)·FPC); it needs samples
    [k·FPC·hop, k·FPC·hop + (FPC−1)·hop + n_fft) — the trailing
    ``n_fft − hop`` samples overlap the next chunk."""
    chunk_span = FRAMES_PER_CHUNK * HOP
    n_frames = (F.col("n_samples") - N_FFT) / HOP + 1
    n_chunks = F.ceil(n_frames / FRAMES_PER_CHUNK).cast("long")
    return recs.select(
        "rec_id",
        "n_samples",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "rec_id",
        "chunk_id",
        (F.col("chunk_id") * chunk_span).alias("start_sample"),
        "n_samples",
    )


_MEL_SCHEMA = "rec_id long, frame_id long, mel array<double>"


def mel_frames_distributed(recs: DataFrame) -> DataFrame:
    """R14 as a distributed plan: chunk grid → Arrow-batched mapInPandas
    computing each chunk's frames independently. No shuffle anywhere —
    the chunk grid is map-side, generation is deterministic per sample
    range, and frame ids are globally consistent by construction."""
    fb = mel_filterbank()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rec, out_frame, out_mel = [], [], []
            for rec_id, chunk_id, start, n_samples in zip(
                pdf["rec_id"], pdf["chunk_id"], pdf["start_sample"], pdf["n_samples"]
            ):
                need = (FRAMES_PER_CHUNK - 1) * HOP + N_FFT
                count = min(need, n_samples - start)
                if count < N_FFT:
                    continue
                samples = synth_samples(int(rec_id), int(start), int(count))
                mel = mel_frames_of(samples, fb)
                base = int(chunk_id) * FRAMES_PER_CHUNK
                for j in range(mel.shape[0]):
                    out_rec.append(int(rec_id))
                    out_frame.append(base + j)
                    out_mel.append(mel[j])
            yield pd.DataFrame(
                {"rec_id": out_rec, "frame_id": out_frame, "mel": out_mel}
            )

    return chunk_grid(recs).mapInPandas(compute, schema=_MEL_SCHEMA)


def power_to_db(mel_df: DataFrame) -> DataFrame:
    """R15: two-pass global-max dB conversion over the mel column
    (agg → broadcast → elementwise), floor −80 dB."""
    gmax = mel_df.select(
        F.max(F.array_max("mel")).alias("maxp")
    )
    db = F.transform(
        F.col("mel"),
        lambda p: F.greatest(
            10.0 * F.log10(p / F.col("maxp")), F.lit(DB_FLOOR)
        ),
    )
    return mel_df.crossJoin(F.broadcast(gmax)).select(
        "rec_id", "frame_id", db.alias("mel_db")
    )


@query("audio_mel_pipeline", oracle=None, tags=("audio", "mapInPandas"))
def audio_mel_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end R12→R15: synthetic recordings → overlap-chunked mel
    extraction → global-max dB → per-recording frame stats. Rows-only
    (the STFT is not SQL-expressible); numeric correctness is asserted
    against a single-pass numpy oracle in tests/test_audio.py."""
    recs = recordings(spark)
    db = power_to_db(mel_frames_distributed(recs))
    energy = F.aggregate(F.col("mel_db"), F.lit(0.0), lambda a, x: a + x)
    return (
        db.select("rec_id", "frame_id", energy.alias("frame_energy"))
        .groupBy("rec_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.round(F.avg("frame_energy"), 4).alias("avg_energy"),
            F.round(F.max("frame_energy"), 4).alias("max_energy"),
        )
        .orderBy("rec_id")
    )


@query(
    "audio_duration_and_concat",
    oracle="""
        WITH recs AS (
            SELECT i AS rec_id,
                   CASE WHEN i % 2 = 0 THEN 'Male' ELSE 'Female' END
                       AS speaker,
                   66150 AS n_samples
            FROM (SELECT UNNEST(range(8)) AS i)
        )
        SELECT rec_id, speaker,
               ROUND(n_samples / 22050.0, 3) AS dur_sec,
               ROUND(SUM(n_samples / 22050.0)
                     OVER (ORDER BY rec_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW), 3) AS cum_sec
        FROM recs
    """,
    tags=("audio", "window"),
)
def audio_duration_and_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7/R13 audio side: per-recording duration (size/sr) and the
    running concatenated-duration ledger the generator writes
    (data_generator.py:20-21). The audio-bytes concat itself is ordered
    collect_list+flatten in the single-recording case; here only the
    scalar ledger is materialized (blob concat exercised in tests).
    The recording catalog is pure arithmetic of the row id, so the
    oracle restates it from range(8) — upgrading this R7/R13 ledger
    from rows-only to full hash comparison (the cumulative window
    spans the 8-row catalog, not data)."""
    from pyspark.sql import Window

    recs = recordings(spark)
    w = Window.orderBy("rec_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dur = (F.col("n_samples") / SR)
    return recs.select(
        "rec_id",
        "speaker",
        F.round(dur, 3).alias("dur_sec"),
        F.round(F.sum(dur).over(w), 3).alias("cum_sec"),
    )


def expected_mel_single_pass(rec_id: int, n_samples: int) -> np.ndarray:
    """Test oracle: single-pass (non-chunked) mel over the full waveform
    — what the reference computes in one numpy call."""
    return mel_frames_of(synth_samples(rec_id, 0, n_samples), mel_filterbank())


def total_frames(n_samples: int) -> int:
    return (n_samples - N_FFT) // HOP + 1


def _mel_pca_mi(spark: SparkSession):
    """Shared front half of the reference lifecycle: recordings →
    overlap-chunked mel (R14) → global-max dB (R15) →
    StandardScaler(withMean)+PCA(k=4) (R21) → binned-MI component
    select (R26). Returns ``(frames_pc, best)`` — the per-frame
    principal-component DataFrame and the argmax-MI component name —
    consumed by both final-stage variants (MLP: ``ref_e2e_train``;
    Conv1D: ``ref_e2e_train_cnn``)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    recs = recordings(spark)
    db = power_to_db(mel_frames_distributed(recs))
    # materialize once: every downstream action (PCA fit, MI argmax,
    # split counts, MLP iterations, evaluation) would otherwise re-run
    # the whole mapInPandas feature extraction
    labeled = (
        db.join(recs.select("rec_id", "speaker"), "rec_id")
        .select(
            "rec_id",
            "speaker",
            (F.col("frame_id") * HOP / SR).alias("t"),
            *[F.col("mel_db")[i].alias(f"f{i}") for i in range(N_MELS)],
        )
        .localCheckpoint()
    )

    # PCA(4) over the 20 mel-dB dims, mean-centered for sklearn parity
    pca_pipe = Pipeline(
        stages=[
            VectorAssembler(
                inputCols=[f"f{i}" for i in range(N_MELS)], outputCol="mel_vec"
            ),
            StandardScaler(
                inputCol="mel_vec", outputCol="centered", withMean=True, withStd=False
            ),
            PCA(k=4, inputCol="centered", outputCol="pc_vec"),
        ]
    )
    pcs = pca_pipe.fit(labeled).transform(labeled)
    pc = vector_to_array("pc_vec")
    frames_pc = pcs.select(
        "speaker", "t", *[pc[i].alias(f"pc{i}") for i in range(4)]
    ).localCheckpoint()

    # R26: binned plug-in MI of each pc vs speaker; argmax selects X
    long = frames_pc.unpivot(
        ids=["speaker"], values=[f"pc{i}" for i in range(4)],
        variableColumnName="dim", valueColumnName="x",
    )
    edges = long.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = long.join(F.broadcast(edges), "dim").select(
        "dim", "speaker",
        F.least(
            F.floor((F.col("x") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 8))
            .cast("bigint"),
            F.lit(7),
        ).alias("bin"),
    )
    joint = binned.groupBy("dim", "bin", "speaker").agg(F.count(F.lit(1)).alias("nbl"))
    margx = joint.groupBy("dim", "bin").agg(F.sum("nbl").alias("nb"))
    margy = joint.groupBy("dim", "speaker").agg(F.sum("nbl").alias("nl"))
    tot = joint.groupBy("dim").agg(F.sum("nbl").alias("n"))
    mi = (
        joint.join(margx, ["dim", "bin"]).join(margy, ["dim", "speaker"]).join(tot, "dim")
        .groupBy("dim")
        .agg(
            F.sum(
                (F.col("nbl") / F.col("n"))
                * F.log(F.col("nbl") * F.col("n") / (F.col("nb") * F.col("nl")))
            ).alias("mi")
        )
    )
    best = mi.orderBy(F.col("mi").desc(), "dim").first()["dim"]  # e.g. 'pc2'
    return frames_pc, best


@query("ref_e2e_train", oracle=None, tags=("reference", "audio", "ml", "pipeline"))
def ref_e2e_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full training lifecycle (R48,
    ``/root/reference/src/voice_classifier.py:45-62``) as ONE lazy Spark
    plan over the synthetic audio corpus:

    recordings → overlap-chunked mel (R14) → global-max dB (R15) →
    StandardScaler(withMean)+PCA(k=4) (R21) → binned-MI component select
    (R26) → (Time, X) features (R22/R27) → StringIndexer (R28) →
    randomSplit(seed=42) (R31) → MLP [2,50,50,50,k] (R35/R36, the
    Conv1D stack's MLP equivalent) → holdout accuracy/logloss (R37) +
    confusion counts (R44). For the architecture-faithful Conv1D final
    stage see ``ref_e2e_train_cnn``.

    Rows-only (training is iterative); separability is pytest-asserted
    (two-harmonic corpora at 110/220 Hz are linearly separable in mel
    space, so holdout accuracy must be high)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import StringIndexer, VectorAssembler

    frames_pc, best = _mel_pca_mi(spark)

    # R27: (Time, X, speaker); R28/R31/R35-R37/R44 below
    ts = frames_pc.select("t", F.col(best).alias("x"), "speaker")
    model_pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["t", "x"], outputCol="features"),
            StringIndexer(
                inputCol="speaker", outputCol="label", stringOrderType="alphabetAsc"
            ),
            MultilayerPerceptronClassifier(
                layers=[2, 50, 50, 50, 2], maxIter=30, seed=42, blockSize=50
            ),
        ]
    )
    train, test = ts.randomSplit([0.8, 0.2], seed=42)
    model = model_pipe.fit(train)
    preds = model.transform(test)
    acc = MulticlassClassificationEvaluator(metricName="accuracy").evaluate(preds)
    ll = MulticlassClassificationEvaluator(metricName="logLoss").evaluate(preds)
    conf = (
        preds.groupBy("label")
        .pivot("prediction", [0.0, 1.0])
        .count()
        .na.fill(0)
        .orderBy("label")
        .collect()
    )
    flat = {f"c{int(r.label)}{int(p)}": r[str(p)] for r in conf for p in (0.0, 1.0)}
    return spark.createDataFrame(
        [
            (
                best,
                round(acc, 4),
                round(ll, 4),
                train.count(),
                test.count(),
                flat.get("c00", 0),
                flat.get("c01", 0),
                flat.get("c10", 0),
                flat.get("c11", 0),
            )
        ],
        "best_component string, accuracy double, logloss double, n_train long, "
        "n_test long, c00 long, c01 long, c10 long, c11 long",
    )


@query(
    "ref_e2e_train_cnn",
    oracle=None,
    tags=("reference", "audio", "ml", "cnn", "pipeline", "mapInPandas"),
)
def ref_e2e_train_cnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The e2e lifecycle with the ARCHITECTURE-FAITHFUL final stage
    (reference ``src/voice_classifier.py:200-265``): the same mel →
    PCA → MI front half picks (and reports) the best component, then
    the Conv1D+BN stack (cnn.py, from-scratch numpy — the container
    has no DL framework) trains on the distributed pipeline's
    spectrogram windows and is evaluated on the holdout via an
    Arrow-batched forward pass. ``ref_e2e_train`` (MLP) stays the
    default exemplar; this closes the topology gap. The mel features
    are computed once per branch (each localCheckpoints) — an
    exemplar-level concession, not the production shape.

    Rows-only: both stages are iterative/seeded; separability and CNN
    gradient correctness are pytest-asserted (tests/test_cnn.py)."""
    from big_data_audio_classification_spark.operators.cnn import ml_cnn_train_eval

    _, best = _mel_pca_mi(spark)
    return ml_cnn_train_eval(spark, sf_dir).select(
        F.lit(best).alias("best_component"),
        "accuracy",
        "logloss",
        "n_train",
        "n_test",
    )


# Ship THIS module's code to Python workers by value: the driver harness
# may run with a cwd/PYTHONPATH where this repo is not importable, and
# the Arrow-batched kernels above reference module-level helpers that
# cloudpickle would otherwise serialize as import references.
import sys as _sys

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


# --- Energy-based voice-activity detection (VAD) ----------------------

VAD_FRAME = 512           # non-overlapping energy frame, samples
VAD_PERIOD_FRAMES = 16    # gate granularity: 16 frames = 8192 samples
VAD_THRESHOLD = 0.1       # RMS gate (voiced two-harmonic tone ~0.74)
VAD_FRAMES_PER_REC = int(3.0 * SR) // VAD_FRAME  # 129
VAD_RECS = 8

_VAD_SCHEMA = "rec_id long, frame_id long, rms double"


def _vad_gate(rec_id: int, period: int) -> int:
    """Deterministic on/off gate: md5 parity of 'rec#period' — the
    same definition the SQL oracle evaluates engine-side."""
    import hashlib

    return int(hashlib.md5(f"{rec_id}#{period}".encode()).hexdigest()[:2], 16) % 2


@query(
    "audio_vad_segments",
    oracle=f"""
        WITH recs AS (
            SELECT UNNEST(generate_series(0, {VAD_RECS - 1})) AS rec_id
        ),
        frames AS (
            SELECT rec_id,
                   UNNEST(generate_series(0, {VAD_FRAMES_PER_REC - 1}))
                       AS frame_id
            FROM recs
        ),
        act AS (
            SELECT rec_id, frame_id
            FROM frames
            WHERE CAST(('0x' || substr(md5(rec_id || '#'
                       || CAST(frame_id // {VAD_PERIOD_FRAMES} AS VARCHAR)),
                       1, 2)) AS INT) % 2 = 1
        ),
        isl AS (
            SELECT rec_id, frame_id,
                   frame_id - ROW_NUMBER() OVER (PARTITION BY rec_id
                                                 ORDER BY frame_id) AS grp
            FROM act
        )
        SELECT rec_id,
               CAST(MIN(frame_id) AS BIGINT) AS seg_start,
               CAST(MAX(frame_id) AS BIGINT) AS seg_end,
               CAST(COUNT(*) AS BIGINT) AS n_frames
        FROM isl GROUP BY rec_id, grp
        ORDER BY rec_id, seg_start
    """,
    tags=("audio", "vad", "mapInPandas", "gap-islands"),
)
def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity detection: each recording's gated
    waveform (the two-harmonic synth of R12, multiplied by a
    deterministic md5-parity on/off gate per 8192-sample period) is
    framed into non-overlapping 512-sample windows, per-frame RMS is
    computed by REAL signal processing in an Arrow-batched
    ``mapInPandas`` kernel, frames gate on rms > 0.1, and consecutive
    active frames collapse to (start, end) segments via gap-islands.

    Cross-engine contract by INDEPENDENT DERIVATION: the oracle never
    touches samples — it derives the expected segments straight from
    the gate schedule (pure integer md5 arithmetic), so the check
    verifies the whole DSP chain end-to-end (a wrong window, RMS, or
    frame alignment breaks the match). Frame and gate sizes are
    aligned (16 frames per gate period) so no energy frame straddles
    an on/off boundary — every frame is exactly voiced (~0.74 RMS) or
    exactly silent (0), and the 0.1 threshold has no knife edge.

    Scale shape: the frame grid is map-side generated (explode of a
    bounded sequence), the kernel needs only its own 512 samples
    (embarrassingly parallel, no overlap for energy frames), and the
    islands window partitions per recording — the same segmentation
    shape ``events_gap_islands_sessions`` runs on fact data. Reference
    analog: the silence-trimming preprocessing implied by
    /root/reference/src/voice_classifier.py:80-83's fixed-length load,
    made explicit.
    """
    frames = spark.range(VAD_RECS).select(
        F.col("id").alias("rec_id"),
        F.explode(
            F.sequence(F.lit(0), F.lit(VAD_FRAMES_PER_REC - 1))
        ).alias("frame_id"),
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rms = []
            for rec_id, frame_id in zip(pdf["rec_id"], pdf["frame_id"]):
                gate = _vad_gate(
                    int(rec_id), int(frame_id) // VAD_PERIOD_FRAMES
                )
                s = gate * synth_samples(
                    int(rec_id), int(frame_id) * VAD_FRAME, VAD_FRAME
                )
                rms.append(float(np.sqrt(np.mean(s * s))))
            yield pd.DataFrame(
                {
                    "rec_id": pdf["rec_id"],
                    "frame_id": pdf["frame_id"],
                    "rms": rms,
                }
            )

    energy = frames.mapInPandas(compute, schema=_VAD_SCHEMA)
    act = energy.where(F.col("rms") > VAD_THRESHOLD)
    w = Window.partitionBy("rec_id").orderBy("frame_id")
    isl = act.select(
        "rec_id",
        "frame_id",
        (F.col("frame_id") - F.row_number().over(w)).alias("grp"),
    )
    return (
        isl.groupBy("rec_id", "grp")
        .agg(
            F.min("frame_id").cast("bigint").alias("seg_start"),
            F.max("frame_id").cast("bigint").alias("seg_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        )
        .drop("grp")
        .orderBy("rec_id", "seg_start")
    )


# --- round-5 carrier: first-time 'audio-math' window entry -----------


@query(
    "audio_mel_filterbank_weights",
    oracle=f"""
        WITH mm AS (SELECT 2595.0 * LOG10(1.0 + {FMAX} / 700.0) AS melmax),
        pts AS (
            SELECT j.j,
                   700.0 * (POWER(10.0, (j.j * (SELECT melmax FROM mm)
                                         / {N_MELS + 1}) / 2595.0) - 1.0) AS hz
            FROM (SELECT UNNEST(range(0, {N_MELS + 2})) AS j) j
        ),
        grid AS (
            SELECT m.m, i.i,
                   i.i * ({SR} / 2.0) / {N_FFT // 2} AS f,
                   lo.hz AS lo, ctr.hz AS ctr, hi.hz AS hi
            FROM (SELECT UNNEST(range(0, {N_MELS})) AS m) m
            JOIN pts lo  ON lo.j  = m.m
            JOIN pts ctr ON ctr.j = m.m + 1
            JOIN pts hi  ON hi.j  = m.m + 2
            CROSS JOIN (SELECT UNNEST(range(0, {N_FFT // 2 + 1})) AS i) i
        )
        SELECT m AS mel, i AS bin, ROUND(w, 6) AS weight FROM (
            SELECT m, i,
                   GREATEST(0.0, LEAST((f - lo) / (ctr - lo),
                                       (hi - f) / (hi - ctr))) AS w
            FROM grid)
        WHERE w > 1e-6
    """,
    tags=("audio", "audio-math", "reference"),
)
def audio_mel_filterbank_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HTK-mel triangular filterbank (R14's kernel weights —
    reference mel spectrogram, voice_classifier.py:82) computed as a
    DECLARATIVE Spark plan instead of a numpy table: mel breakpoints →
    hz breakpoints → (mel, fft-bin) grid → triangular weight, all
    closed-form built-ins (log10/pow/least/greatest), codegen'd. The
    same numbers feed the distributed mel pipeline's broadcast
    filterbank (``mel_filterbank``/numpy — parity pinned in
    tests/test_audio.py); here the computation itself is the query so
    the whole transcendental chain is SQL-oracle-checkable. Near-zero
    triangle edges are cut at 1e-6 BEFORE rounding so both engines keep
    the identical row set."""
    mels = spark.range(N_MELS).withColumnRenamed("id", "m")
    bins = spark.range(N_FFT // 2 + 1).withColumnRenamed("id", "i")
    melmax = 2595.0 * _math.log10(1.0 + FMAX / 700.0)

    def hz_pt(j):  # closed-form mel->hz breakpoint (identical text in SQL)
        return 700.0 * (
            F.pow(F.lit(10.0), (j * melmax / (N_MELS + 1)) / 2595.0) - 1.0
        )

    f = F.col("i") * (SR / 2.0) / (N_FFT // 2)
    lo, ctr, hi = (
        hz_pt(F.col("m").cast("double")),
        hz_pt(F.col("m").cast("double") + 1),
        hz_pt(F.col("m").cast("double") + 2),
    )
    w = F.greatest(
        F.lit(0.0), F.least((f - lo) / (ctr - lo), (hi - f) / (hi - ctr))
    )
    return (
        mels.crossJoin(bins)
        .select(
            F.col("m").alias("mel"),
            F.col("i").alias("bin"),
            w.alias("w"),
        )
        .filter(F.col("w") > 1e-6)
        .select("mel", "bin", F.round("w", 6).alias("weight"))
    )


# --- round-6 carrier: first-time 'audio-math' entry --------------------

RMS_FRAME = 64  # samples per RMS frame (hop == frame: non-overlapping)


@query(
    "audio_rms_db_frames",
    oracle=f"""
        WITH x AS (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        frames AS (
            SELECT user_id,
                   CAST((rn - 1) // {RMS_FRAME} AS BIGINT) AS frame,
                   CAST(COUNT(*) AS BIGINT)                AS n_samples,
                   SQRT(AVG(value * value))                AS rms
            FROM x GROUP BY user_id, (rn - 1) // {RMS_FRAME}
        ),
        peak AS (SELECT MAX(rms) AS rms_max FROM frames)
        SELECT user_id, frame, n_samples,
               ROUND(rms, 6)                                  AS rms,
               ROUND(20.0 * LOG10(rms / peak.rms_max), 4)     AS db_fs
        FROM frames, peak
    """,
    tags=("audio", "audio-math", "window", "events"),
)
def audio_rms_db_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed RMS → dB-relative-to-peak (the R15 power→dB two-pass
    shape on the time domain instead of the spectrogram): treat each
    user's ordered event values as a PCM channel, cut non-overlapping
    64-sample frames, and report each frame's RMS and its level in dB
    re the GLOBAL peak frame — pass 1 computes frame energies (one
    keyed aggregation), pass 2 broadcasts the 1-row peak, exactly the
    ``audio_power_to_db`` discipline (certified r02-r04). Framing via
    row_number ÷ frame-size keeps the frame assignment deterministic
    and shuffle-free after the one user-keyed sort."""
    from big_data_audio_classification_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "user_id",
        "value",
        ((F.row_number().over(w) - 1) / RMS_FRAME)
        .cast("bigint")
        .alias("frame"),
    )
    frames = x.groupBy("user_id", "frame").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms"),
    )
    peak = frames.agg(F.max("rms").alias("rms_max"))
    return frames.join(F.broadcast(peak)).select(
        "user_id",
        "frame",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        F.round(20.0 * F.log10(F.col("rms") / F.col("rms_max")), 4).alias(
            "db_fs"
        ),
    )


# --- round-7 spare carrier: spectral-flatness style energy profile -----


@query(
    "audio_energy_flatness",
    oracle=f"""
        WITH x AS (
            SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS c,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        frames AS (
            SELECT user_id,
                   CAST((rn - 1) // {RMS_FRAME} AS BIGINT) AS frame,
                   CAST(SUM(c * c) AS DOUBLE)
                       / (COUNT(*) * 10000.0) AS power
            FROM x GROUP BY user_id, (rn - 1) // {RMS_FRAME}
        ),
        ch AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT)          AS n_frames,
                   list(power ORDER BY frame)        AS ps,
                   MAX(power)                        AS max_power
            FROM frames GROUP BY user_id
        )
        SELECT user_id, n_frames,
               ROUND(EXP(list_sum(list_transform(ps, p -> LN(p))) / n_frames)
                     / (list_sum(ps) / n_frames), 6)  AS flatness,
               ROUND(max_power / (list_sum(ps) / n_frames), 6) AS crest_power,
               ROUND(list_sum(ps) / n_frames, 6)      AS mean_power
        FROM ch
    """,
    tags=("audio", "audio-math", "events"),
)
def audio_energy_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENERGY FLATNESS per channel (the Wiener spectral-flatness
    formula — geometric over arithmetic mean — applied to framed
    power): flatness → 1 for noise-like channels, → 0 for impulsive
    ones, plus the power crest factor. The frame pass is the same
    row_number÷N framing as ``audio_rms_db_frames``; per-frame power
    is EXACT integer cents² divided once, and every cross-frame
    reduction (Σ power, Σ ln power) runs as a SEQUENTIAL frame-ordered
    in-row fold over the per-channel frame array — the deterministic
    summation-order idiom — because engine-side AVG over frames
    proved ULP-unstable under ROUND at sf0.1 (one flipped cell,
    caught by the r07 bit-exact sweep). Frame counts per channel are
    bounded (events/channel ÷ {RMS_FRAME}); at 100 TB cap or re-chunk
    channels before collecting the frame array. Values are strictly
    positive so LN is total."""
    from big_data_audio_classification_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select(
        "user_id",
        c.alias("c"),
        ((F.row_number().over(w) - 1) / RMS_FRAME).cast("bigint").alias(
            "frame"
        ),
    )
    frames = x.groupBy("user_id", "frame").agg(
        (
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.count(F.lit(1)) * 10000.0)
        ).alias("power")
    )
    ch = frames.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("frame", "power"))),
            lambda s: s.getField("power"),
        ).alias("ps"),
        F.max("power").alias("max_power"),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, p: acc + p
    )
    mean_power = fold(F.col("ps")) / F.col("n_frames")
    log_mean = (
        fold(F.transform(F.col("ps"), lambda p: F.log(p))) / F.col("n_frames")
    )
    return ch.select(
        "user_id",
        "n_frames",
        F.round(F.exp(log_mean) / mean_power, 6).alias("flatness"),
        F.round(F.col("max_power") / mean_power, 6).alias("crest_power"),
        F.round(mean_power, 6).alias("mean_power"),
    )


# --- round-8 spare: zero-crossing rate per frame ------------------------


@query(
    "audio_zero_crossing_rate",
    oracle=f"""
        WITH x AS (
            SELECT user_id, value - 0.5 AS s,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        d AS (
            SELECT user_id,
                   CAST((rn - 1) // {RMS_FRAME} AS BIGINT) AS frame,
                   CASE WHEN LAG(s) OVER (PARTITION BY user_id ORDER BY rn)
                             * s < 0 THEN 1 ELSE 0 END AS crossed,
                   CASE WHEN LAG(s) OVER (PARTITION BY user_id ORDER BY rn)
                             IS NULL THEN 0 ELSE 1 END AS has_prev
            FROM x
        )
        SELECT user_id, frame,
               CAST(SUM(crossed) AS BIGINT)  AS n_crossings,
               CAST(SUM(has_prev) AS BIGINT) AS n_steps,
               ROUND(SUM(crossed) * 1.0 / NULLIF(SUM(has_prev), 0), 6)
                   AS zcr
        FROM d GROUP BY user_id, frame
    """,
    tags=("audio", "audio-math", "window", "events"),
)
def audio_zero_crossing_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZERO-CROSSING RATE per frame — the classic cheap
    voiced/unvoiced (or noisiness) discriminator: fraction of
    consecutive-sample sign changes within each 64-sample frame of
    the mean-centered channel (energy siblings: ``audio_rms_db_frames``,
    ``audio_energy_flatness``). One ordered LAG pass per channel, then
    a frame rollup; crossings at frame boundaries attribute to the
    frame of the LATER sample in both engines (the LAG is computed on
    the unframed stream)."""
    from big_data_audio_classification_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "user_id",
        (F.col("value") - 0.5).alias("s"),
        F.row_number().over(w).alias("rn"),
    )
    wl = Window.partitionBy("user_id").orderBy("rn")
    d = x.select(
        "user_id",
        ((F.col("rn") - 1) / RMS_FRAME).cast("bigint").alias("frame"),
        F.when(F.lag("s").over(wl) * F.col("s") < 0, 1)
        .otherwise(0)
        .alias("crossed"),
        F.when(F.lag("s").over(wl).isNull(), 0).otherwise(1).alias(
            "has_prev"
        ),
    )
    return d.groupBy("user_id", "frame").agg(
        F.sum("crossed").cast("bigint").alias("n_crossings"),
        F.sum("has_prev").cast("bigint").alias("n_steps"),
        F.round(
            F.sum("crossed") * 1.0 / F.nullif(F.sum("has_prev"), F.lit(0)), 6
        ).alias("zcr"),
    )


# ---------------------------------------------------------------------------
# audio-math: crest factor per frame, rolled up per channel
# ---------------------------------------------------------------------------

CREST_FRAME = 64  # samples per frame, matches the RMS/ZCR framing


@query(
    "audio_crest_factor",
    oracle=f"""
        WITH x AS (
            SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS c,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        frames AS (
            SELECT user_id,
                   CAST((rn - 1) // {CREST_FRAME} AS BIGINT) AS frame,
                   (CAST(MAX(c) AS DOUBLE) / 100.0)
                   / SQRT(CAST(SUM(c * c) AS DOUBLE)
                          / (COUNT(*) * 10000.0)) AS crest
            FROM x GROUP BY user_id, (rn - 1) // {CREST_FRAME}
        ),
        ch AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT)   AS n_frames,
                   list(crest ORDER BY frame) AS cs,
                   MAX(crest)                 AS max_crest,
                   MIN(crest)                 AS min_crest
            FROM frames GROUP BY user_id
        )
        SELECT user_id, n_frames,
               ROUND(list_sum(cs) / n_frames, 6) AS mean_crest,
               ROUND(max_crest, 6)               AS max_crest,
               ROUND(min_crest, 6)               AS min_crest
        FROM ch
    """,
    tags=("audio", "audio-math", "events"),
)
def audio_crest_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREST FACTOR per frame (peak ÷ RMS — the impulsiveness measure
    that separates percussive from steady material; dB siblings:
    ``audio_rms_db_frames`` r06, flatness: ``audio_energy_flatness``),
    rolled up per channel. Same row_number÷N framing as the whole
    framed-audio family; per-frame peak and energy are EXACT integer
    cents (one division + one sqrt per frame), and the cross-frame
    mean runs as a SEQUENTIAL frame-ordered in-row fold — the
    deterministic-summation idiom the r07 bit-exact sweep forced onto
    ``audio_energy_flatness`` (engine-side AVG over frames is
    ULP-unstable under ROUND). max/min are order-free. Strictly
    positive signal keeps RMS nonzero and the division total."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select(
        "user_id",
        c.alias("c"),
        ((F.row_number().over(w) - 1) / CREST_FRAME).cast("bigint").alias(
            "frame"
        ),
    )
    frames = x.groupBy("user_id", "frame").agg(
        (
            (F.max("c").cast("double") / 100.0)
            / F.sqrt(
                F.sum(F.col("c") * F.col("c")).cast("double")
                / (F.count(F.lit(1)) * 10000.0)
            )
        ).alias("crest")
    )
    ch = frames.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("frame", "crest"))),
            lambda s: s.getField("crest"),
        ).alias("cs"),
        F.max("crest").alias("max_crest"),
        F.min("crest").alias("min_crest"),
    )
    mean_crest = (
        F.aggregate(F.col("cs"), F.lit(0.0), lambda acc, p: acc + p)
        / F.col("n_frames")
    )
    return ch.select(
        "user_id",
        "n_frames",
        F.round(mean_crest, 6).alias("mean_crest"),
        F.round("max_crest", 6).alias("max_crest"),
        F.round("min_crest", 6).alias("min_crest"),
    )


# ---------------------------------------------------------------------------
# audio-math: even/odd-phase band energy ratio per channel
# ---------------------------------------------------------------------------


@query(
    "audio_phase_energy_ratio",
    oracle="""
        WITH x AS (
            SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS c,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT user_id,
               CAST(SUM(CASE WHEN rn % 2 = 1 THEN c * c ELSE 0 END) AS BIGINT)
                   AS odd_energy,
               CAST(SUM(CASE WHEN rn % 2 = 0 THEN c * c ELSE 0 END) AS BIGINT)
                   AS even_energy,
               ROUND(CAST(SUM(CASE WHEN rn % 2 = 1 THEN c * c ELSE 0 END)
                          AS DOUBLE)
                     / SUM(CASE WHEN rn % 2 = 0 THEN c * c ELSE 0 END), 6)
                   AS phase_ratio
        FROM x GROUP BY user_id
    """,
    tags=("audio", "audio-math", "events"),
)
def audio_phase_energy_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVEN/ODD-PHASE ENERGY split per channel: total energy carried
    by odd- vs even-indexed samples and their ratio — the aliasing
    sanity check run before a 2:1 decimation (``mm_wav_resample_sink``
    keeps even samples; a ratio far from 1 means the phases differ
    and naive decimation folds energy). Energies are EXACT integer
    cents² sums (map-side combined, no window needed beyond the
    row_number), ratio is one division — bit-stable. One shuffle
    keyed by channel."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select(
        "user_id", c.alias("c"), F.row_number().over(w).alias("rn")
    )
    cc = F.col("c") * F.col("c")
    odd = F.sum(F.when(F.col("rn") % 2 == 1, cc).otherwise(0))
    even = F.sum(F.when(F.col("rn") % 2 == 0, cc).otherwise(0))
    return x.groupBy("user_id").agg(
        odd.cast("bigint").alias("odd_energy"),
        even.cast("bigint").alias("even_energy"),
        F.round(odd.cast("double") / even, 6).alias("phase_ratio"),
    )


# ---------------------------------------------------------------------------
# audio-math: spectral-centroid analog over framed event amplitudes
# ---------------------------------------------------------------------------

SC_FRAME = 16  # samples per frame


@query(
    "audio_spectral_centroid",
    oracle=f"""
        WITH x AS (
            SELECT user_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS c,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        framed AS (
            SELECT user_id, (rn - 1) // {SC_FRAME} AS frame_id,
                   (rn - 1) % {SC_FRAME} AS bin,
                   abs(c) AS mag
            FROM x
        ),
        agg AS (
            SELECT user_id, frame_id,
                   CAST(COUNT(*) AS BIGINT)        AS n,
                   CAST(SUM(bin * mag) AS BIGINT)  AS wsum,
                   CAST(SUM(mag) AS BIGINT)        AS msum
            FROM framed GROUP BY user_id, frame_id
        )
        SELECT user_id, CAST(frame_id AS BIGINT) AS frame_id, n,
               CASE WHEN msum > 0
                    THEN ROUND(CAST(wsum AS DOUBLE) / msum, 6) + 0
               END AS centroid_bin
        FROM agg WHERE n = {SC_FRAME}
    """,
    tags=("audio-math", "window", "events"),
)
def audio_spectral_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPECTRAL-CENTROID analog: frame the per-user value stream into
    16-sample frames (row_number DIV — the same framing discipline as
    ``audio_rms_db_frames``) and compute each frame's magnitude-
    weighted mean bin Σ i·|x_i| / Σ |x_i| — the brightness feature of
    every audio/DSP pipeline, expressed over the events stand-in
    stream the audio-math family uses (the real mel path lives in
    ``operators/audio.py``). Numerator and denominator are EXACT
    integer sums (bin ≤ 15, |cents| ≤ 1e5 — no overflow reachable);
    one float division per frame with the oracle's ``+ 0`` -0.0
    guard; ragged tail frames are filtered exactly. One shuffle keyed
    by user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    x = e.select(
        "user_id", c.alias("c"), (F.row_number().over(w) - 1).alias("rn0")
    )
    framed = x.select(
        "user_id",
        F.expr(f"rn0 DIV {SC_FRAME}").alias("frame_id"),
        (F.col("rn0") % SC_FRAME).alias("bin"),
        F.abs(F.col("c")).alias("mag"),
    )
    agg = framed.groupBy("user_id", "frame_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("bin") * F.col("mag")).cast("bigint").alias("wsum"),
        F.sum("mag").cast("bigint").alias("msum"),
    )
    return agg.filter(F.col("n") == SC_FRAME).select(
        "user_id",
        F.col("frame_id").cast("bigint").alias("frame_id"),
        "n",
        F.when(
            F.col("msum") > 0,
            F.round(F.col("wsum").cast("double") / F.col("msum"), 6),
        ).alias("centroid_bin"),
    )


# ---------------------------------------------------------------------------
# audio-math: frame-level lag-1 autocorrelation
# ---------------------------------------------------------------------------

AC_FRAME = 64


@query(
    "audio_autocorr_lag1",
    oracle=f"""
        WITH x AS (
            SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS c,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        lagged AS (
            SELECT user_id, c, rn,
                   CAST((rn - 1) // {AC_FRAME} AS BIGINT) AS frame,
                   LAG(c) OVER (PARTITION BY user_id,
                                             CAST((rn - 1) // {AC_FRAME}
                                                  AS BIGINT)
                                ORDER BY rn) AS prev
            FROM x
        ),
        frames AS (
            SELECT user_id, frame,
                   CAST(SUM(CASE WHEN prev IS NOT NULL
                                 THEN prev * c ELSE 0 END) AS BIGINT) AS num,
                   CAST(SUM(c * c) AS BIGINT) AS den,
                   CAST(COUNT(*) AS BIGINT)   AS flen
            FROM lagged GROUP BY user_id, frame
        ),
        ch AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_frames,
                   list_sum(list(CAST(num AS DOUBLE) / den ORDER BY frame))
                       AS r1_sum,
                   MAX(CAST(num AS DOUBLE) / den) AS max_r1,
                   MIN(CAST(num AS DOUBLE) / den) AS min_r1
            FROM frames WHERE den > 0 GROUP BY user_id
        )
        SELECT user_id, n_frames,
               ROUND(r1_sum / n_frames, 6) AS mean_r1,
               ROUND(max_r1, 6)            AS max_r1,
               ROUND(min_r1, 6)            AS min_r1
        FROM ch
    """,
    tags=("audio", "audio-math", "events"),
)
def audio_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-LEVEL LAG-1 AUTOCORRELATION (normalized, r₁ = Σxᵢxᵢ₊₁ /
    Σxᵢ² per 64-sample frame) — the periodicity/smoothness proxy that
    separates tonal from noisy frames (crest measures impulsiveness,
    flatness measures spectral tilt; r₁ completes the time-domain
    trio), rolled up per channel exactly like ``audio_crest_factor``
    (same row_number÷N framing idiom, same per-channel reduce). The
    numerator and denominator are EXACT integer sums (cents products
    ≈ 6e9 per frame — int64 with 10⁹ headroom); each frame's r₁ is
    one division, and the cross-frame mean reduces via the house
    frame-ordered fold. Signals are non-negative cents so r₁ ≥ 0 —
    no -0.0 surface. One shuffle keyed by (user, frame), one by
    user."""
    e = load_table(spark, sf_dir, "events")
    wrn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        F.row_number().over(wrn).alias("rn"),
    )
    frame = F.expr(f"CAST((rn - 1) DIV {AC_FRAME} AS BIGINT)")
    wlag = Window.partitionBy("user_id", "frame").orderBy("rn")
    lagged = x.select(
        "user_id", "c", "rn", frame.alias("frame")
    ).select("*", F.lag("c").over(wlag).alias("prev"))
    frames = lagged.groupBy("user_id", "frame").agg(
        F.sum(
            F.when(F.col("prev").isNotNull(), F.col("prev") * F.col("c"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("num"),
        F.sum(F.expr("c * c")).cast("bigint").alias("den"),
        F.count(F.lit(1)).cast("bigint").alias("flen"),
    )
    r1 = F.col("num").cast("double") / F.col("den")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("frame", "r1"))),
        lambda s: s["r1"],
    )
    ch = (
        frames.filter(F.col("den") > 0)
        .select("user_id", "frame", r1.alias("r1"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.aggregate(ordered, F.lit(0.0), lambda a, v: a + v).alias(
                "r1_sum"
            ),
            F.max("r1").alias("max_r1"),
            F.min("r1").alias("min_r1"),
        )
    )
    return ch.select(
        "user_id",
        "n_frames",
        F.round(F.col("r1_sum") / F.col("n_frames"), 6).alias("mean_r1"),
        F.round("max_r1", 6).alias("max_r1"),
        F.round("min_r1", 6).alias("min_r1"),
    )
