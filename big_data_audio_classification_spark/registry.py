"""Query registry — the single source of truth for the driver contract.

Every implemented operator registers an exemplar query here via the
``@query`` decorator. ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry: each entry pairs a Spark DataFrame
builder ``(spark, sf_dir) -> DataFrame`` with (when SQL-expressible) an
equivalent ANSI-SQL string the DuckDB oracle can run on the same parquet
tables. Non-SQL-expressible operators (LSH, MLlib fits, streaming state)
register with ``oracle=None`` → the driver records a rows-only check.

Column-name parity rule: the driver sorts columns by name before value
hashing, so every computed column is aliased identically in the Spark
code and the oracle SQL (see SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class EngineQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, EngineQuery] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register an exemplar query under ``name``.

    ``oracle`` is DuckDB-flavored ANSI SQL over the pre-registered views
    (region nation customer supplier part orders lineitem events
    documents embeddings), or None for rows-only checks.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = EngineQuery(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


# The driver's CORRECTNESS gate records the FIRST 50 queries in
# registration order. DRIVER_WINDOW chooses those 50: fully SQL-oracled
# and covering every operator family (tests/test_registry.py enforces
# both). Rotate it each round so never-certified queries get certified;
# a displaced query stays registered and green in the local gate
# (scripts/check_oracle.py). Round history lives in git.
DRIVER_WINDOW: tuple[str, ...] = (
    "agg_percentiles_twophase",
    "stats_median_ci",
    "ml_quantile_binning",
    "ml_conformal_interval",
    "stats_hodges_lehmann",
    "analytics_segment_migration",
    "stats_ks_two_sample",
    "stats_mann_whitney_u",
    "stats_spearman_corr",
    "ml_roc_auc",
    "curation_token_weighted_median",
    "dedup_minhash_jaccard_estimate",
    "dedup_prefix_filter_join",
    "agg_theta_sketch_setops",
    "dedup_lsh_amplification_curve",
    "graph_pagerank_knn",
    "graph_pagerank_oracle",
    "events_session_duration_deciles",
    "skew_key_gini_imbalance",
    "udtf_session_paths",
    "text_lm_bigram_oov_rate",
    "dedup_cc_bounded_histogram",
    "sketch_countmin_heavy_hitters",
    "sql_parameterized_identifier",
    "ml_rowid_positional_join",
    "join_asof_cross_table",
    "agg_cube_as_grouping_sets",
    "text_tfidf_pivoted_norm",
    "scalar_string_edit_distance",
    "scalar_math_integer_bits",
    "scalar_json_array_arith",
    "scalar_variant_mixed_scalars",
    "array_running_extrema",
    "scalar_map_filter_concat",
    "dedup_simhash_weighted",
    "ml_kfold_regression_cv",
    "subquery_correlated_above_avg",
    "sim_ivf_second_choice_margin",
    "ml_fisher_score_selection",
    "ml_hashing_trick_encoding",
    "ref_filter_scalar_max",
    "join_range_point_in_interval",
    "audio_phase_energy_ratio",
    "mm_payload_shannon_entropy",
    "events_tumbling_window_fn",
    "agg_pandas_udaf_midhinge",
    "sink_csv_escape_roundtrip",
    "window_rolling_median_mad",
    "analytics_dow_additive_profile",
    "stats_iv_wald_estimator",
)

# Dirty-since-certification rule: a certified query whose fn source or
# oracle SQL changed since its last green driver row is listed here and
# sits in DRIVER_WINDOW. scripts/check_dirty.py enforces this against
# cert_fingerprints.json; edits to shared helpers need a manual entry,
# since the fingerprint sees only the query fn's own source.
RECERTIFY: tuple[str, ...] = (
    "agg_percentiles_twophase",
    "stats_median_ci",
    "ml_quantile_binning",
    "ml_conformal_interval",
    "stats_hodges_lehmann",
    "analytics_segment_migration",
    "stats_ks_two_sample",
    "stats_mann_whitney_u",
    "stats_spearman_corr",
    "ml_roc_auc",
    "curation_token_weighted_median",
)


def all_queries() -> dict[str, EngineQuery]:
    # Import side-effect modules exactly once; each registers its queries.
    import big_data_audio_classification_spark.queries  # noqa: F401

    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names unregistered queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def spark_queries() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}
