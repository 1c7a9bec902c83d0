"""Start pyspark's worker daemon on the installed pyspark.

Spark puts ``pyspark.zip`` and its jars ahead of site-packages on a
Python worker's path. On CPython 3.11 every ``importlib.invalidate_caches()``
re-reads the whole directory of each zip archive on the path, and the
worker calls it at the start of every task. When pyspark and py4j import
without those archives, drop them; then run ``pyspark.daemon`` as usual.
It must run before anything imports pyspark, so it sits outside the
package, alone in a directory that ``session.get_spark`` puts on the
workers' path.
"""

import os
import runpy
import sys
from importlib.machinery import PathFinder


def _archive(entry: str) -> bool:
    parts = entry.split(os.sep)
    return "pyspark.zip" in parts or any(p.endswith(".jar") for p in parts)


def prune(path: list, importers: dict) -> None:
    """Drop the pyspark.zip and jar entries from ``path`` and ``importers``,
    unless pyspark or py4j can then no longer be found."""
    kept = [p for p in path if not _archive(p)]
    if all(PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")):
        path[:] = kept
        for key in [k for k in importers if _archive(k)]:
            del importers[key]


if __name__ == "__main__":
    prune(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
