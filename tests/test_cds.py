"""The driver JVM's class-data-sharing archive (``session.jvm_archive_conf``).

The end-to-end tests start child Python processes, each with its own
``XDG_CACHE_HOME``: one builds the archive on its miss, the next starts
from it. The fallback tests start no Spark JVM; they replace the
archive-building job with a short script.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from big_data_audio_classification_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Starts a session, runs a job, prints the JVM's input arguments.
SESSION_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from big_data_audio_classification_spark.session import get_spark
spark = get_spark("cds-test")
df = spark.range(100)
df.groupBy((df.id % 3).alias("k")).count().collect()
jvm = spark._jvm
print(json.dumps(list(
    jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())))
"""


def _session_child(cache: str, submit_args: str | None = None):
    env = dict(os.environ, XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit_args is not None:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    return subprocess.run([sys.executable, "-c", SESSION_CHILD, REPO], env=env,
                          capture_output=True, text=True, timeout=900)


def _archives(cache: str) -> list[str]:
    return glob.glob(os.path.join(cache, "spark-graft", "*.jsa"))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A child session on an empty cache: it builds the archive, then
    starts from it."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(conf_dir) and any(
            not f.endswith(".template") for f in os.listdir(conf_dir)):
        pytest.skip(f"{conf_dir} holds Spark configuration; no archive is used")
    cache = str(tmp_path_factory.mktemp("cds-cache"))
    yield cache, _session_child(cache)
    shutil.rmtree(cache)  # ~170 MB; pytest keeps its last temp dirs


def _only_json_line(proc) -> list[str]:
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout[:4000]  # no [cds] or other JVM line
    return json.loads(lines[0])


def test_building_session_publishes_one_archive_and_keeps_stdout_clean(built):
    cache, proc = built
    args = _only_json_line(proc)
    (archive,) = _archives(cache)
    assert f"-XX:SharedArchiveFile={archive}" in args
    left = sorted(os.listdir(os.path.join(cache, "spark-graft")))
    assert left == sorted(["conf", os.path.basename(archive)]), left
    assert os.listdir(os.path.join(cache, "spark-graft", "conf")) == []


def test_hit_loads_session_classes_from_the_archive(built, tmp_path):
    cache, _ = built
    log = tmp_path / "class-load.log"
    proc = _session_child(cache, f"--driver-java-options "
                                 f"'-Xlog:class+load=info:file={log} -Dprobe=1' pyspark-shell")
    args = _only_json_line(proc)
    assert "-Dprobe=1" in args
    (archive,) = _archives(cache)
    assert f"-XX:SharedArchiveFile={archive}" in args
    assert ("org.apache.spark.sql.SparkSession source: shared objects file (top)"
            in log.read_text())


# -- fallbacks, with no Spark JVM ----------------------------------------------


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """jvm_archive_conf as before a first session, on an empty cache."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    for name in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path / "cache" / "spark-graft"


def _fake_job(monkeypatch, body: str) -> None:
    """Replace the building child's job by ``body``, which sees the
    archive's temporary path as ``tmp``."""
    monkeypatch.setattr(session, "_ARCHIVE_JOB", (
        "import os, sys, time\n"
        "tmp = os.environ['PYSPARK_SUBMIT_ARGS'].split('ArchiveClassesAtExit=')[1].split()[0]\n"
        + body))


def test_real_conf_dir_gives_no_archive_and_changes_nothing(no_jvm, monkeypatch, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.executor.memory 2g\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session.jvm_archive_conf() == {}
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert not no_jvm.exists()


def test_caller_java_options_give_no_archive(no_jvm, monkeypatch):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       "--conf spark.driver.defaultJavaOptions=-Dx=1 pyspark-shell")
    assert session.jvm_archive_conf() == {}
    assert "SPARK_CONF_DIR" not in os.environ


def test_held_lock_gives_no_archive_at_once(no_jvm, monkeypatch):
    _fake_job(monkeypatch, "raise SystemExit('the build must not start')")
    no_jvm.mkdir(parents=True)
    lock = no_jvm / (session._archive_key(_find_spark_home()) + ".jsa.lock")
    lock.touch()
    t0 = time.monotonic()
    assert session.jvm_archive_conf() == {}
    assert time.monotonic() - t0 < 5
    assert lock.exists()  # another process's lock is left alone
    assert "SPARK_CONF_DIR" not in os.environ


def test_stale_lock_is_dropped(no_jvm, monkeypatch):
    no_jvm.mkdir(parents=True)
    lock = no_jvm / (session._archive_key(_find_spark_home()) + ".jsa.lock")
    lock.touch()
    old = time.time() - 3 * session.ARCHIVE_BUILD_TIMEOUT_S
    os.utime(lock, (old, old))
    assert session.jvm_archive_conf() == {}
    assert not lock.exists()


def test_failed_build_leaves_no_file(no_jvm, monkeypatch):
    _fake_job(monkeypatch, "open(tmp, 'wb').write(b'partial')\nsys.exit(1)\n")
    assert session.jvm_archive_conf() == {}
    assert sorted(os.listdir(no_jvm)) == ["conf"]
    assert "SPARK_CONF_DIR" not in os.environ


def test_timed_out_build_is_killed_and_leaves_no_file(no_jvm, monkeypatch, tmp_path):
    pid_file = tmp_path / "pid"
    _fake_job(monkeypatch, f"open({str(pid_file)!r}, 'w').write(str(os.getpid()))\n"
                           "open(tmp, 'wb').write(b'partial')\ntime.sleep(120)\n")
    monkeypatch.setattr(session, "ARCHIVE_BUILD_TIMEOUT_S", 3)
    t0 = time.monotonic()
    assert session.jvm_archive_conf() == {}
    assert time.monotonic() - t0 < 30
    assert sorted(os.listdir(no_jvm)) == ["conf"]
    with pytest.raises(ProcessLookupError):
        os.kill(int(pid_file.read_text()), 0)


def test_published_archive_replaces_other_keys(no_jvm, monkeypatch):
    _fake_job(monkeypatch, "open(tmp, 'wb').write((0xF00BABA8).to_bytes(4, 'little'))\n")
    no_jvm.mkdir(parents=True)
    (no_jvm / "0123456789abcdef0123.jsa").write_bytes(b"an archive of another JDK")
    conf = session.jvm_archive_conf()
    (archive,) = _archives(str(no_jvm.parent))
    assert conf == {"spark.driver.defaultJavaOptions":
                    f"-XX:SharedArchiveFile={archive} -Xlog:all=off -Xlog:all=warning:stderr"}
    assert os.environ["SPARK_CONF_DIR"] == str(no_jvm / "conf")
    assert sorted(os.listdir(no_jvm)) == sorted(["conf", os.path.basename(archive)])
