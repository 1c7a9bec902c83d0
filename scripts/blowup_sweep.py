"""100x spot blow-up for the two pair-generating operators (VERDICT
r04 item 6): measure candidate-growth CURVATURE beyond the routine 10x
sweep, and derive the knob guidance recorded in PLANS.md.

Corpus construction (measurement harness only — correctness always runs
against the driver's parquet): K perturbed copies of the sf0.1
documents table, doc_ids offset per copy.

* prefix-filter join: tokens are SALTED per copy ("cK_tok"), so copies
  share no shingles — the corpus grows like new independent data (the
  realistic 100 TB ingest model). Candidates/pairs should grow ~K.
* pHash banded near-dup: texts are lightly perturbed (copy tag
  appended), so copies stay template-similar — the adversarial
  growth model for a template-heavy corpus. Candidates grow with the
  cross-copy collision rate; the experiment sweeps the band width.

Usage: python scripts/blowup_sweep.py [K ...]   (default 1 3 10)
10x baseline = K=1 (sf0.1 = 10x sf0.01); K=10 = 100x sf0.01.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F

from big_data_audio_classification_spark.operators.dedup import (
    PFJ_SHINGLE,
    PFJ_THETA,
    prefix_filter_pairs,
    tokens_col,
)
from big_data_audio_classification_spark.session import get_spark
from big_data_audio_classification_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.1"


def replicated_docs(spark, k: int, salt_tokens: bool):
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    copies = []
    for c in range(k):
        cp = d.select(
            (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
            (
                F.array_join(
                    F.transform(
                        F.split("text", " "), lambda t: F.concat_ws("_", F.lit(f"c{c}"), t)
                    ),
                    " ",
                )
                if salt_tokens
                else F.concat_ws(" ", F.col("text"), F.lit(f"copytag{c}"))
            ).alias("text"),
        )
        copies.append(cp)
    out = copies[0]
    for cp in copies[1:]:
        out = out.unionByName(cp)
    return out


def prefix_filter_case(spark, k: int):
    docs = replicated_docs(spark, k, salt_tokens=True)
    w = docs.select("doc_id", tokens_col(F.col("text")).alias("words")).persist()
    t0 = time.time()
    n_pairs = prefix_filter_pairs(w, PFJ_THETA, PFJ_SHINGLE).count()
    dt = time.time() - t0
    w.unpersist()
    return n_pairs, dt


def phash_bands_case(spark, k: int, band_bits: int):
    """Inline replica of mm_phash_banded_neardup's candidate stage with
    a parameterized band width (the knob under test): 64 / band_bits
    bands of band_bits bits each."""
    docs = replicated_docs(spark, k, salt_tokens=False).where(F.length("text") > 1)
    perdoc = docs.select(
        F.col("doc_id").alias("media_id"),
        F.md5("text").alias("dig"),
        F.length("text").alias("L"),
        "text",
    ).select(
        "media_id",
        "dig",
        F.expr(
            """
            aggregate(sequence(0, 31), 0L, (acc, i) -> acc +
              CASE WHEN ascii(substring(text, CAST(1 + (i*(L-1)) div 65 AS INT), 1))
                      > ascii(substring(text, CAST(1 + ((i+1)*(L-1)) div 65 AS INT), 1))
                   THEN shiftleft(1L, i) ELSE 0L END)
            """
        ).alias("h1"),
        F.expr(
            """
            aggregate(sequence(32, 63), 0L, (acc, i) -> acc +
              CASE WHEN ascii(substring(text, CAST(1 + (i*(L-1)) div 65 AS INT), 1))
                      > ascii(substring(text, CAST(1 + ((i+1)*(L-1)) div 65 AS INT), 1))
                   THEN shiftleft(1L, i - 32) ELSE 0L END)
            """
        ).alias("h2"),
    )
    reps = perdoc.groupBy("dig").agg(
        F.min("media_id").alias("media_id"),
        F.first("h1").alias("h1"),
        F.first("h2").alias("h2"),
    )
    n_bands_per_half = 32 // band_bits
    mask = (1 << band_bits) - 1
    bands = None
    for half, col in ((0, "h1"), (1, "h2")):
        for b in range(n_bands_per_half):
            part = reps.select(
                "media_id",
                "h1",
                "h2",
                F.lit(half * n_bands_per_half + b).alias("band_no"),
                F.shiftright(F.col(col), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            bands = part if bands is None else bands.unionByName(part)
    a, b2 = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(F.col("a.media_id"), F.col("b.media_id"))
        .distinct()
    )
    t0 = time.time()
    n_cand = cand.count()
    dt = time.time() - t0
    return n_cand, dt


def containment_case(spark, k: int, salt_tokens: bool):
    """Inline replica of dedup_containment_join_xxhash's pair stage
    (VERDICT r05 item 6): xxhash64 shingles, df-cap as count+semi-join.
    salted = independent-data ingest model (copies share no shingles);
    template = adversarial model (copies share ~all shingles, the
    df-cap is what bounds the per-shingle fan-out at cap^2/2 pairs)."""
    from big_data_audio_classification_spark.operators.dedup import (
        CONT_DF_CAP,
        CONT_SHINGLE,
        CONT_THRESHOLD,
    )

    docs = replicated_docs(spark, k, salt_tokens=salt_tokens)
    base = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    ).persist()
    tcol = F.col("toks")
    hashes = F.transform(
        F.sequence(F.lit(1), F.size(tcol) - (CONT_SHINGLE - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tcol, i, CONT_SHINGLE))),
    )
    sh = base.select(
        "doc_id",
        F.explode(
            F.when(F.size(tcol) >= CONT_SHINGLE, hashes).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("h"),
    ).distinct()
    rare = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= CONT_DF_CAP)
        .select("h")
    )
    kept = sh.join(rare, "h", "left_semi").persist()
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = kept.select(F.col("doc_id").alias("id_a"), "h")
    b = kept.select(F.col("doc_id").alias("id_b"), "h")
    pairs = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            F.greatest(
                F.col("n_common") * 1.0 / F.col("sza"),
                F.col("n_common") * 1.0 / F.col("szb"),
            )
            >= CONT_THRESHOLD
        )
    )
    t0 = time.time()
    n_cand = pairs.count()
    n_out = out.count()
    dt = time.time() - t0
    base.unpersist()
    kept.unpersist()
    return n_cand, n_out, dt


def main():
    ks = [int(a) for a in sys.argv[1:]] or [1, 3, 10]
    spark = get_spark("blowup")
    for mode, salt in (("salted", True), ("template", False)):
        for k in ks:
            n_cand, n_out, dt = containment_case(spark, k, salt)
            print(
                f"containment_xxhash mode={mode} k={k} docs={5000 * k} "
                f"candidates={n_cand} pairs_out={n_out} sec={dt:.2f}",
                flush=True,
            )
    for k in ks:
        n_pairs, dt = prefix_filter_case(spark, k)
        print(
            f"prefix_filter k={k} docs={5000 * k} pairs={n_pairs} sec={dt:.2f}",
            flush=True,
        )
    for band_bits in (16, 8):
        for k in ks:
            n_cand, dt = phash_bands_case(spark, k, band_bits)
            print(
                f"phash_bands bits={band_bits} k={k} docs={5000 * k} "
                f"candidates={n_cand} sec={dt:.2f}",
                flush=True,
            )


if __name__ == "__main__":
    main()
