"""The benchmark's workloads, pinned here so that an edit to ``bench.py``
or the registry cannot silently change what a workload runs.

Each workload is a fixed list of registered query names, the shape of
its generated input and the action that consumes each query's result.
The seed changes the input values and the query order in each pass,
never the list.

BENCHMARK.json judges changes on ``scaleout`` and ``audio-train`` only:
the judged runs (4 + 22 per workload) must end within 57 minutes, and at
up to about 60 s a run on a 4-core host a third workload does not fit.
``headline`` runs the same way from the command line; its spreads are in
receipts/README.md.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Run once per set-up, before any timed query; never timed as a query.
WARMUP = "pricing_summary"
# Scale factor of the generated tables (sf0.01: 60k lineitem rows).
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    action: str  # "noop": the noop sink; "pandas": toPandas() to the driver
    k: int = 1  # key-offset copies of the generated input (scaleout)
    # Untimed passes between the cold pass and the warm ones. The passes
    # right after the cold one still run while the JVM's JIT compiles the
    # driver's hot paths: the first is 25-70% slower than the plateau, and
    # on scaleout the second and third are still 5-40% slower.
    settle_passes: int = 1
    # Row counts of the queries that have no DuckDB oracle.
    rows: dict[str, int] = field(default_factory=dict)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="headline",
            why=(
                "compile- and build-bound: bench.HEADLINE queries over the "
                "sf0.01 tables, where planning, codegen and the query "
                "fn's own eager jobs outweigh executor work"
            ),
            queries=(
                "join_asof_purchase_click",
                "agg_cube",
                "scalar_json_from_json_agg",
                "dedup_exact_hash",
                "tpch_q3_shipping_priority",
                "ml_isotonic_calibration",
            ),
            action="noop",
        ),
        Workload(
            name="scaleout",
            why=(
                "data-bound: blowup headliners over a key-offset replica "
                "with one hot user, where executor time, "
                "shuffle and the largest task dominate"
            ),
            queries=(
                "join_range_bands",
                "events_gap_islands_sessions",
                "text_bm25_rank",
            ),
            k=10,
            settle_passes=2,
            action="noop",
        ),
        Workload(
            name="audio-train",
            why=(
                "the reference lifecycle delivered with toPandas: mel "
                "features in Python workers, an MLlib PCA fit and a WAV "
                "resample sink, bound by the Arrow/Python boundary, eager "
                "jobs and writes"
            ),
            queries=(
                "audio_mel_pipeline",
                "ml_pca_embeddings",
                "mm_wav_resample_sink",
            ),
            action="pandas",
            rows={"audio_mel_pipeline": 8, "ml_pca_embeddings": 500},
        ),
    )
}
