"""Python workers import the installed pyspark, not Spark's zip and jars.

With ``pyspark.zip`` or a jar on a worker's path, CPython 3.11 re-reads
each archive's directory on every ``importlib.invalidate_caches()``, which
pyspark's worker calls once per task. ``session.WORKER_CONF`` starts the
workers through ``worker_path/spark_graft_daemon.py``, which drops those
entries when it can.
"""

from __future__ import annotations

import importlib.util
import os
import zipfile

from big_data_audio_classification_spark.session import WORKER_CONF


def _daemon_module():
    path = os.path.join(WORKER_CONF["spark.executorEnv.PYTHONPATH"],
                        WORKER_CONF["spark.python.daemon.module"] + ".py")
    spec = importlib.util.spec_from_file_location("spark_graft_daemon_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _archived(entry: str) -> bool:
    parts = entry.split(os.sep)
    return "pyspark.zip" in parts or any(p.endswith(".jar") for p in parts)


def test_python_workers_import_installed_pyspark(spark):
    def seen(batches):
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "file": [pyspark.__file__],
            "path": ["\n".join(sys.path)],
            "importers": ["\n".join(map(str, sys.path_importer_cache))],
        })

    row = (spark.range(1).repartition(1)
           .mapInPandas(seen, "file string, path string, importers string")
           .collect()[0])
    assert not any(p.endswith(".zip") for p in row.file.split(os.sep)), row.file
    assert [e for e in row.path.split("\n") if _archived(e)] == []
    assert [k for k in row.importers.split("\n") if _archived(k)] == []


def _package(root, name: str) -> None:
    os.makedirs(os.path.join(root, name))
    open(os.path.join(root, name, "__init__.py"), "w").close()


def test_prune_keeps_path_when_pyspark_is_only_in_the_zip(tmp_path):
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("py4j/__init__.py", "")
    other = tmp_path / "other"
    _package(other, "py4j")
    path = [archive, str(other)]
    importers = {archive: None, archive + "/pyspark": None}
    _daemon_module().prune(path, importers)
    assert path == [archive, str(other)]
    assert list(importers) == [archive, archive + "/pyspark"]


def test_prune_drops_zip_and_jar_entries_when_pyspark_is_installed(tmp_path):
    archive = str(tmp_path / "pyspark.zip")
    jar = str(tmp_path / "spark-core_2.13.jar")
    installed = tmp_path / "site"
    _package(installed, "pyspark")
    _package(installed, "py4j")
    path = [archive, jar, str(installed)]
    importers = {archive: None, jar: None, jar + "/org": None, str(installed): None}
    _daemon_module().prune(path, importers)
    assert path == [str(installed)]
    assert list(importers) == [str(installed)]
