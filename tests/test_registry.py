"""Contract tests for the query registry and the driver's 50-row window.

The driver records CORRECTNESS rows for the first 50 registered queries
only, so the window must (a) be exactly the curated DRIVER_WINDOW list,
(b) be fully SQL-oracled (no rows-only red rows in the gate), and
(c) sample every operator family rather than the import-order prefix.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_audio_classification_spark.registry import DRIVER_WINDOW, all_queries

# One representative tag per operator family the window must sample.
REQUIRED_FAMILY_TAGS = [
    "relational",
    "join",
    "asof",
    "setop",
    "aggregate",
    "sketch",
    "grouping",  # rollup/cube/grouping-sets family (pivot carries it too)
    "window",
    "topk",
    "scalar",
    "string",
    "math",
    "json",
    "variant",
    "array",
    "map",
    "dedup",
    "minhash",
    "lsh",
    "simhash",
    "text",
    "tfidf",
    "lm",
    "regression",
    "subquery",
    "similarity",
    "ivf",
    "ml",
    "report",
    "feature-selection",
    "encoding",
    "reference",
    "range-join",
    "audio-math",
    "multimodal",
    "mapInPandas",
    "scale",
    "skew",
    "events",
    "window-time",
    "session",
    "udtf",
    "udaf",
    "pandas",
    "sink",
    "csv",
    "sql",
    # round-3d families
    "rolling",
    "decomposition",
    "robust",
    "causal",
    "inference",
]


def test_window_is_the_first_50_registered():
    names = list(all_queries())
    assert len(DRIVER_WINDOW) == 50
    assert names[:50] == list(DRIVER_WINDOW)


def test_window_is_fully_sql_oracled():
    qs = all_queries()
    missing = [n for n in DRIVER_WINDOW if qs[n].oracle is None]
    assert not missing, f"rows-only queries inside the driver window: {missing}"


def test_window_samples_every_family():
    qs = all_queries()
    window_tags = {t for n in DRIVER_WINDOW for t in qs[n].tags}
    missing = [t for t in REQUIRED_FAMILY_TAGS if t not in window_tags]
    assert not missing, f"families absent from the driver window: {missing}"


def test_no_duplicate_registrations():
    names = list(all_queries())
    assert len(names) == len(set(names))


def test_dirty_since_certification_rule():
    """Standing r09-verdict rule: any query whose fn source or oracle
    SQL drifted since its last green driver row must be listed in
    registry.RECERTIFY AND sit in the next DRIVER_WINDOW (enforced
    against the cert_fingerprints.json snapshot; see
    scripts/check_dirty.py — re-snapshot at round close)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "check_dirty",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "check_dirty.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.main() == 0


def test_no_array_or_map_outputs_in_sql_oracled_queries(spark, sf_dir):
    """The driver's pandas canonicalizer sorts/hashes object cells and
    dies on unhashable array/map values (CORRECTNESS_r03: the only two
    `err` rows). Every SQL-oracled query must serialize such columns
    (array_join / to_json) before returning."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import ArrayType, MapType

    items = [(n, q) for n, q in all_queries().items() if q.oracle is not None]

    # schema resolution is driver/JVM analysis work per query; sweep the
    # ~650 queries on threads (same shape as the plans sweep in
    # tests/test_plans.py — py4j gives each thread its own connection)
    def check(item):
        name, q = item
        df = q.fn(spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType))
        ]
        return (name, bad) if bad else None

    # Python-datasource exemplars register a session-level data source
    # inside their fn and race under concurrency; re-run failures
    # serially (same protocol as the plans sweep).
    def safe_check(item):
        try:
            return check(item), None
        except Exception:
            return None, item

    with ThreadPoolExecutor(max_workers=16) as pool:
        results = list(pool.map(safe_check, items))
    offenders = dict(r for r, _ in results if r)
    offenders.update(
        r for r in (check(item) for _, item in results if item is not None) if r
    )
    assert not offenders, f"array/map output columns in SQL-oracled queries: {offenders}"


# Round-named test files whose tests still await a move into the family
# test file of their subject. The set may only shrink.
ROUND_NAMED_TEST_FILES = {
    "test_r10_optimizations.py",
    "test_r11_optimizations.py",
    "test_round5.py",
    "test_round6.py",
    "test_round6_spares.py",
    "test_round6_tranche2.py",
    "test_round7_stock.py",
    "test_round7_tranche2.py",
    "test_round8_stock.py",
    "test_round8_tranche2.py",
    "test_round10_stock.py",
    "test_round10_tranche2.py",
    "test_round10_tranche3.py",
    "test_stock_r9.py",
    "test_stock_r9_tranche2.py",
    "test_stock_r9_tranche3.py",
}


def test_modules_are_named_by_family_not_by_round():
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    round_named = re.compile(r"stock_|round|tranche|_r\d+")
    found = {
        os.path.relpath(os.path.join(d, f), root)
        for top in ("big_data_audio_classification_spark", "tests")
        for d, _, files in os.walk(os.path.join(root, top))
        for f in files
        if f.endswith(".py") and round_named.search(f)
    }
    allowed = {os.path.join("tests", f) for f in ROUND_NAMED_TEST_FILES}
    assert found <= allowed, f"round-named modules: {sorted(found - allowed)}"
