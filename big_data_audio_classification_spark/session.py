"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every knob is chosen for how it
scales on a real cluster:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic broadcast conversion are exactly the behaviors that keep a
  100 TB plan healthy without hand-tuning per query.
* Arrow on — every pandas-UDF boundary (audio decode, mel extraction,
  vector math fallbacks) is Arrow-batched, never row-at-a-time.
* ``spark.sql.shuffle.partitions`` defaults to the local core count; AQE
  coalesces down when partitions are small, so on a cluster you set it
  high (2–3× total cores) and let AQE shrink it.
* Python workers import the installed pyspark, the copy the driver runs,
  not ``pyspark.zip`` and the jars Spark puts first on their path. On
  CPython 3.11 pyspark's per-task ``importlib.invalidate_caches()``
  re-reads each zip archive on the path, 100–250 ms before a task sees
  its first row. ``WORKER_CONF`` starts the worker daemon through
  ``worker_path/spark_graft_daemon.py``, which drops those entries when
  pyspark and py4j import without them.
* The driver JVM starts from a class-data-sharing archive (JDK dynamic
  AppCDS) of the classes a session and its first queries load: JVM
  start takes about half as long, the first query about a third less
  (6.1 -> 3.1 s and 6.4 -> 4.0 s on 4 cores). ``jvm_archive_conf``
  builds it once per JDK, Spark and pyspark install, in a child process,
  under ``$XDG_CACHE_HOME/spark-graft/`` (else ``~/.cache/spark-graft/``),
  and falls back to no archive — the JVM command line unchanged — when
  ``SPARK_CONF_DIR`` holds a real file, ``spark.driver.defaultJavaOptions``
  is set by the caller, the JVM is already up, or the build is busy or
  fails.
* The warehouse directory is the process's scratch directory
  (``scratch.SCRATCH_DIR``), so tables a query saves are removed with it
  at exit (``warehouse_conf``).
"""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Sessions built elsewhere (scripts/) apply these too.
WORKER_CONF = {
    "spark.python.daemon.module": "spark_graft_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "worker_path"),
}

_JAVA_OPTIONS_CONF = "spark.driver.defaultJavaOptions"
_WAREHOUSE_CONF = "spark.sql.warehouse.dir"
# A build is a JVM start, a short job and the dump at JVM exit: ~1 min.
ARCHIVE_BUILD_TIMEOUT_S = 600
# The JVM's unified logging writes warnings, the CDS ones included, to
# stdout by default, which a Python driver inherits; bench.final_line and
# perfbench own the last stdout line. Send them to stderr instead; a
# stale or mismatched archive is then skipped without a word, as under
# the default -Xshare:auto.
_JVM_LOG_OPTIONS = "-Xlog:all=off -Xlog:all=warning:stderr"
_ARCHIVE_MAGIC = 0xF00BABA8  # header of a JDK dynamic CDS archive
_ARCHIVE_JOB = (
    "from big_data_audio_classification_spark.session import _archive_job; "
    "_archive_job()"
)


def _local_cores() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return 8


def get_spark(app_name: str = "big-data-audio-classification-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or return the active) SparkSession with engine defaults."""
    cores = _local_cores()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark's vectorized reader
        # has no nanos type — read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(map=WORKER_CONF)
        .config(map=warehouse_conf())
        .config(map=jvm_archive_conf())
        .getOrCreate()
    )


def warehouse_conf() -> dict[str, str]:
    """Put the session's warehouse (the bucketed tables ``saveAsTable``
    writes) in the process's scratch directory, which is removed at exit,
    not in ``./spark-warehouse``; ``{}`` when ``PYSPARK_SUBMIT_ARGS`` sets
    it."""
    if _WAREHOUSE_CONF in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return {}
    from big_data_audio_classification_spark import scratch

    return {_WAREHOUSE_CONF: os.path.join(scratch.SCRATCH_DIR, "warehouse")}


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# -- class-data-sharing archive of the driver JVM --------------------------


def jvm_archive_conf() -> dict[str, str]:
    """The conf that starts the driver JVM from the class-data-sharing
    archive, building the archive first on a miss; ``{}`` when it cannot
    be used. Call before the JVM starts. When it returns a conf it has
    pointed ``SPARK_CONF_DIR`` at an empty directory: the archive refuses
    a classpath holding a non-empty directory, and Spark puts the conf
    directory on it. When it returns ``{}`` the environment is as it was."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}  # the JVM is already running
    if _JAVA_OPTIONS_CONF in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return {}
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf_dir) and any(
                not f.endswith(".template") for f in os.listdir(conf_dir)):
            return {}  # spark-defaults.conf, spark-env.sh, log4j2.properties, ...
        cache = os.path.join(os.environ.get("XDG_CACHE_HOME")
                             or os.path.expanduser("~/.cache"), "spark-graft")
        if any(c.isspace() for c in cache):
            return {}  # Spark splits java options on whitespace
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        archive = os.path.join(cache, _archive_key(spark_home) + ".jsa")
        if not os.path.exists(archive) and not _build_archive(archive, empty_conf):
            return {}
    except (OSError, subprocess.SubprocessError):
        return {}
    os.environ["SPARK_CONF_DIR"] = empty_conf
    return {_JAVA_OPTIONS_CONF: f"-XX:SharedArchiveFile={archive} {_JVM_LOG_OPTIONS}"}


def _archive_key(spark_home: str) -> str:
    """Names the archive after what it holds: the JDK (``java -version``
    of the java spark-submit runs), the Spark jars (name, size, mtime)
    and the pyspark version."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    version = subprocess.run([java, "-version"], capture_output=True,
                             timeout=60, check=True).stderr
    h = hashlib.sha256(version)
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(pyspark.__version__.encode())
    return h.hexdigest()[:20]


def _build_archive(archive: str, empty_conf: str) -> bool:
    """Build ``archive`` in a child process and publish it whole, or
    leave nothing; return at once when another process holds the build
    lock. True when the archive now exists."""
    lock = archive + ".lock"
    try:
        os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        # a builder killed mid-build leaves its lock; once it is older
        # than any live build, drop it so that the next session builds
        if time.time() - os.path.getmtime(lock) > 2 * ARCHIVE_BUILD_TIMEOUT_S:
            os.remove(lock)
        return False
    tmp = f"{archive}.{os.getpid()}.tmp"
    try:
        dump = f"-XX:ArchiveClassesAtExit={tmp}"
        env = dict(
            os.environ,
            SPARK_CONF_DIR=empty_conf,
            PYSPARK_SUBMIT_ARGS=shlex.join(["--conf", f"{_JAVA_OPTIONS_CONF}={dump}",
                                            "pyspark-shell"]),
            PYTHONPATH=os.pathsep.join(
                [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
                + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        )
        proc = subprocess.Popen([sys.executable, "-c", _ARCHIVE_JOB], env=env,
                                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                                stderr=subprocess.DEVNULL, start_new_session=True)
        try:
            ok = proc.wait(timeout=ARCHIVE_BUILD_TIMEOUT_S) == 0
        except subprocess.TimeoutExpired:
            ok = False
        finally:
            # whatever ended the wait, end the child's process group too:
            # its JVM would otherwise still write ``tmp`` on exit
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        if not (ok and _is_archive(tmp)):
            return False
        os.replace(tmp, archive)
        for name in os.listdir(os.path.dirname(archive)):
            if name.endswith(".jsa") and name != os.path.basename(archive):
                os.remove(os.path.join(os.path.dirname(archive), name))
        return True
    finally:
        for path in (tmp, lock):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


def _is_archive(path: str) -> bool:
    try:
        with open(path, "rb") as fh:
            return int.from_bytes(fh.read(4), "little") == _ARCHIVE_MAGIC
    except OSError:
        return False


def _archive_job() -> None:
    """Run in the building child: a session and a small job that load
    the classes of the first queries (parquet write and read, a shuffle
    aggregate, a broadcast and a sort-merge join, a window, an Arrow
    ``mapInPandas`` round trip, ``toPandas``), then stop the JVM and wait
    while it writes the archive on exit."""
    from pyspark import SparkContext
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = get_spark("spark-graft-cds")
    tmp = tempfile.mkdtemp(prefix="spark-graft-cds-")
    try:
        path = os.path.join(tmp, "t")
        (spark.range(4000)
         .select("id", (F.col("id") % 7).alias("k"), (F.col("id") / 3).alias("v"),
                 F.col("id").cast("string").alias("s"),
                 F.timestamp_seconds(F.col("id")).alias("ts"))
         .write.parquet(path))
        t = spark.read.parquet(path)
        agg = t.groupBy("k").agg(F.sum("v").alias("sv"), F.count("*").alias("n"),
                                 F.countDistinct("s").alias("ds"))
        joined = t.join(F.broadcast(agg), "k").join(
            t.select("id", F.col("v").alias("v2")).hint("merge"), "id")
        w = Window.partitionBy("k").orderBy("ts")
        ranked = joined.select("k", "id", "v", "sv", F.row_number().over(w).alias("r"),
                               F.sum("v2").over(w).alias("cv"))
        ranked.mapInPandas(lambda it: it, ranked.schema).orderBy("id").toPandas()
        spark.sql("SELECT k, percentile_approx(v, 0.5) FROM parquet.`%s` GROUP BY k"
                  % path).collect()
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        # the JVM exits when its stdin closes, dumping the archive first
        gateway.proc.stdin.close()
        code = gateway.proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)
