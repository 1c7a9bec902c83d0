"""The repository's benchmark.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 14 --trace 0

One process, one client, closed loop: one query at a time on
``local[<half the cores>]`` (see spark_cores). A run

1. generates the workload's input from ``--seed`` in a child process
   (untimed; see gen.py);
2. sets up once, cold, in this fresh process -- registry import,
   ``get_spark()`` (which starts the JVM), one warm-up query -- and
   reports that as ``setup_s``;
3. runs the workload's queries (workloads.py) in passes: one cold pass
   in the pinned order, the workload's untimed settling passes, then warm
   passes for ``--seconds`` (at least three), each in a seeded order;
4. after every timed call, outside the timed interval: reads the status
   stores, counts the persisted relations left, collects the result once
   per query for the correctness check, and clears Spark's cache;
5. after the JVM has stopped, checks the collected results against the
   DuckDB oracle of ``scripts/check_oracle.py`` in a child process
   (check.py); queries without an oracle are held to a pinned row count.

``peak_rss_mb`` is the peak RSS of this process plus that of the JVM;
the generator and the DuckDB check run in their own processes and are
not in it.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
their timings multiplied by the run's host factor (hostspeed.py);
with ``--trace 1`` it carries the per-layer metrics of a traced run of
the same loop (spans around the registry, the session, every
``load_table`` call, each query fn, action and result collection for the
check; one job group per span; status-store numbers per call).
``--out FILE`` also writes the whole record, spans and per-query samples
included, as JSON.

Every file it writes is under ``.perfbench/`` in the checkout: the input
of the last seed and the spans of traced runs stay there, everything else
is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import pickle
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "big_data_audio_classification_spark"
ORACLE_SCRIPT = os.path.join(ROOT, "scripts", "check_oracle.py")
# Driver heap ceiling: the session's own default (8g) is sized for a
# dedicated host; 1g holds every workload here.
DRIVER_MEM = "1g"
TAIL_BEYOND = 10
# One warm pass is one sample of warm_total_s; a run-level median over
# fewer than three swings with a shared host's second-scale speed changes.
MIN_WARM_PASSES = 3

sys.path.insert(0, HERE)

from hostspeed import HostSpeed  # noqa: E402
from status import PYTHON_NODE, StatusStores, catalyst_phases  # noqa: E402
from workloads import SF, WARMUP, WORKLOADS  # noqa: E402


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of ``local[N]``: half the cores. The driver's Python
    thread, its JVM threads, the JIT and GC threads and the Python workers
    need the rest; with a slot per core they queue behind the tasks, and
    a run measures the scheduler of a shared host more than the program."""
    return max(1, cores() // 2)


def configure_env(run_dir: str) -> None:
    """Point every file Spark and its Python workers write into the run
    directory, and size the session; must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM of spark-submit: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # keep every job, stage and execution of a run readable
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    # -Xms = -Xmx: a heap that grows with GC timing swings the JVM's peak
    # RSS by over 10% between runs of the same code; a fixed heap leaves
    # peak_rss_mb to what changes above it (Python, Arrow, off-heap,
    # metaspace, code cache, threads).
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData'"]
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


# -- tracing -------------------------------------------------------------


class Tracer:
    """Spans kept in memory: (name, layer, start, end, parent, query)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.loads: list[str] = []  # table names passed to load_table
        self._stack: list[int] = []
        self.query: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.query,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_ms(self, first: int = 0) -> dict[str, float]:
        """Each layer's self time, in ms, over spans[first:]: a span's
        duration minus what its child spans cover."""
        spans = self.spans[first:]
        child = [0.0] * len(spans)
        for s in spans:
            p = s["parent"]
            if p is not None and p >= first:
                child[p - first] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - c) * 1e3
        return out


def install_hooks(tracer: Tracer, scratch_dir: str) -> None:
    """Before the registry imports the operator modules (they bind
    ``load_table`` and ``SCRATCH_DIR`` by name): send sink round-trips to
    the run's scratch directory and, when tracing, wrap ``load_table``."""
    scratch = importlib.import_module(f"{PKG}.scratch")
    scratch.SCRATCH_DIR = scratch_dir
    if not tracer.enabled:
        return
    catalog = importlib.import_module(f"{PKG}.sources.catalog")
    sources = importlib.import_module(f"{PKG}.sources")
    inner = catalog.load_table

    def load_table(spark, sf_dir, name):
        tracer.loads.append(name)
        sc = spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{tracer.query}/load", name)
        try:
            with tracer.span(f"load_table:{name}", "sources"):
                return inner(spark, sf_dir, name)
        finally:
            if group:
                sc.setJobGroup(group, group)

    catalog.load_table = load_table
    sources.load_table = load_table


def set_up(tracer: Tracer, scratch_dir: str, data_dir: str):
    """Registry import, session start and one warm-up query, timed; in a
    fresh process, so the package import and the JVM start are cold."""
    with tracer.span("setup", "setup"):
        t0 = time.perf_counter()
        with tracer.span("all_queries", "registry"):
            install_hooks(tracer, scratch_dir)
            registry = importlib.import_module(f"{PKG}.registry")
            qs = registry.all_queries()
        t1 = time.perf_counter()
        with tracer.span("get_spark", "session"):
            spark = importlib.import_module(f"{PKG}.session").get_spark("perfbench")
        t2 = time.perf_counter()
        with tracer.span(WARMUP, "warmup"):
            qs[WARMUP].fn(spark, data_dir).collect()
        t3 = time.perf_counter()
    spark.catalog.clearCache()
    return qs, spark, {"import_s": t1 - t0, "session_s": t2 - t1, "warmup_s": t3 - t2}


# -- one timed call ---------------------------------------------------------


class Runner:
    def __init__(self, workload, spark, qs, data_dir, tracer, stores):
        self.w = workload
        self.spark = spark
        self.sc = spark.sparkContext
        self.qs = qs
        self.data_dir = data_dir
        self.tracer = tracer
        self.stores = stores
        # query -> problems; oracle queries are judged later by check.py
        self.checked: dict[str, list[str]] = {}
        # query -> what check.py needs: oracle SQL and Spark's result
        self.pending: dict[str, dict] = {}

    def _action(self, df):
        if self.w.action == "pandas":
            with self.tracer.span("toPandas", "driver"):
                return df.toPandas()
        with self.tracer.span("noop", "action"):
            df.write.format("noop").mode("overwrite").save()
        return None

    def call(self, pass_no: int, name: str) -> dict:
        """One timed call (build + action), then the untimed reads."""
        q = self.qs[name]
        qid = f"p{pass_no}:{name}"
        tr = self.tracer
        tr.query = qid
        rec = {"pass": pass_no, "query": name, "error": None}
        mark = self.stores.execution_mark()
        cg0 = self.stores.codegen()
        span0 = len(tr.spans)
        loads0 = len(tr.loads)
        self.sc.setJobGroup(f"{qid}/build", name)
        try:
            with tr.span(qid, "query"):
                t0 = time.perf_counter()
                with tr.span("fn", "operators"):
                    df = q.fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                self.sc.setJobGroup(f"{qid}/action", name)
                t1b = time.perf_counter()
                out = self._action(df)
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 -- a failing query is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            self._clear()
            return rec
        rec["build_s"] = t1 - t0
        rec["action_s"] = t2 - t1b
        rec["latency_s"] = rec["build_s"] + rec["action_s"]
        rec["relations_left"] = self.stores.persisted_rdds()
        rec["rows_out"] = len(out) if out is not None else None
        if tr.enabled:
            cg1 = self.stores.codegen()
            rec["layers"] = self._layers(qid, mark, cg0, cg1, df, t2 - t1b)
            rec["layers"].update(
                {f"span.{k}": v for k, v in tr.self_ms(span0).items()}
            )
            loads = tr.loads[loads0:]
            rec["layers"]["sources.load_calls"] = len(loads)
            rec["layers"]["sources.tables"] = len(set(loads))
            rec["cpu_s"] = rec["layers"]["spark.exec.cpu_ms"] / 1e3
        else:
            rec["cpu_s"] = (
                self.stores.cpu_ns(f"{qid}/build") + self.stores.cpu_ns(f"{qid}/action")
            ) / 1e9
        if name not in self.checked:
            with tr.span("check", "check"):
                try:
                    self.checked[name] = self._check(name, q, df, out)
                except Exception as exc:  # noqa: BLE001 -- reported as a wrong result
                    self.checked[name] = [f"check raised {type(exc).__name__}: {exc}"[:500]]
        self._clear()
        return rec

    def _clear(self) -> None:
        self.sc.setJobGroup("perfbench/untimed", "untimed")
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    # -- correctness -----------------------------------------------------

    def _check(self, name, q, df, out) -> list[str]:
        """Rows-only queries: the pinned row count. Oracle queries: keep
        Spark's result for check.py and report no problem yet."""
        if q.oracle is None:
            n = len(out) if out is not None else df.count()
            want = self.w.rows.get(name)
            if want is None:
                return [f"no pinned row count for rows-only query {name}"]
            return [] if n == want else [f"rows: got {n}, pinned {want}"]
        self.pending[name] = {
            "sql": q.oracle,
            "cols": df.columns,
            "rows": [tuple(r) for r in df.collect()],
            "schema": df.schema,
        }
        return []

    def oracle_check(self, run_dir: str) -> None:
        """Judge the kept results against DuckDB in a child process."""
        if not self.pending:
            return
        path = os.path.join(run_dir, "results.pkl")
        with open(path, "wb") as fh:
            pickle.dump(self.pending, fh)
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "check.py"), self.data_dir, path],
            capture_output=True, text=True, timeout=120,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            err = (proc.stderr.strip().splitlines() or ["no output"])[-1]
            self.checked.update({n: [f"check.py failed: {err}"[:500]] for n in self.pending})
            return
        self.checked.update(json.loads(lines[-1]))

    # -- per-layer numbers of one call (traced runs) ------------------------

    def _layers(self, qid, mark, cg0, cg1, df, action_s) -> dict[str, float]:
        st = self.stores
        load_jobs = st.jobs(f"{qid}/load")
        build_jobs = st.jobs(f"{qid}/build")
        action_jobs = st.jobs(f"{qid}/action")
        stage_ids = [s for j in load_jobs + build_jobs + action_jobs for s in j["stages"]]
        stages = st.stages(stage_ids, summaries=True)
        execs = st.executions(mark)
        nodes = [n for e in execs for n in e["nodes"]]
        scans = [n for n in nodes if n["name"].startswith("Scan ")]
        py = [n for n in nodes if PYTHON_NODE.search(n["name"])]
        writes = [n for n in nodes if "number of written files" in n["metrics"]]
        phases = catalyst_phases(df)
        # Skew: the largest task's input over the stage's mean task input,
        # measurable only in a stage of several tasks. (Over the median it
        # would read 1 for every two-task stage; see status.QUANTILES.)
        multi = [s for s in stages if s["tasks"] > 1 and s.get("task_rows_mean")]
        skew = [s["task_rows_max"] / s["task_rows_mean"] for s in multi]

        def total(key):
            return float(sum(s[key] for s in stages))

        def node_sum(ns, metric):
            return float(sum(n["metrics"].get(metric, 0.0) for n in ns))

        eager_ms = float(sum(j["wall_ms"] or 0.0 for j in build_jobs))
        return {
            "sources.load_jobs": float(len(load_jobs)),
            "sources.scan_ops": float(len(scans)),
            "sources.scan_rows": node_sum(scans, "number of output rows"),
            "sources.write_bytes": node_sum(writes, "written output"),
            "sources.write_files": node_sum(writes, "number of written files"),
            "operators.eager_jobs": float(len(build_jobs)),
            "operators.eager_job_ms": eager_ms,
            "spark.catalyst.analysis_ms": phases["analysis"],
            "spark.catalyst.optimization_ms": phases["optimization"],
            "spark.catalyst.planning_ms": phases["planning"],
            "spark.catalyst.codegen_compiles": float(cg1[0] - cg0[0]),
            "spark.catalyst.codegen_ms": cg1[1] - cg0[1],
            "spark.exec.jobs": float(len(load_jobs) + len(build_jobs) + len(action_jobs)),
            "spark.exec.stages": float(len(stages)),
            "spark.exec.tasks": total("tasks"),
            "spark.exec.run_ms": total("run_ms"),
            "spark.exec.cpu_ms": total("cpu_ns") / 1e6,
            "spark.exec.gc_ms": total("gc_ms"),
            "spark.exec.max_task_ms": max((s.get("task_ms_max", 0.0) for s in stages), default=0.0),
            "spark.exec.max_task_input_rows": max(
                (s.get("task_rows_max", 0.0) for s in stages), default=0.0
            ),
            # 0 when no stage ran several tasks: not measured, not "no skew"
            "spark.exec.skew_ratio": max(skew, default=0.0),
            "spark.exec.multi_task_stages": float(len(multi)),
            "spark.exec.failed_tasks": total("failed_tasks"),
            "spark.shuffle.read_bytes": total("shuffle_read_bytes"),
            "spark.shuffle.write_bytes": total("shuffle_write_bytes"),
            "spark.shuffle.write_ms": total("shuffle_write_ns") / 1e6,
            "spark.shuffle.fetch_wait_ms": total("fetch_wait_ms"),
            "spark.shuffle.spill_mem_bytes": total("spill_mem_bytes"),
            "spark.shuffle.spill_disk_bytes": total("spill_disk_bytes"),
            "spark.python.nodes": float(len(py)),
            "spark.python.run_ms": node_sum(py, "time to run Python workers"),
            "spark.python.data_sent_bytes": node_sum(py, "data sent to Python workers"),
            "spark.python.data_received_bytes": node_sum(py, "data returned from Python workers"),
            "spark.python.rows_received": node_sum(py, "number of output rows"),
            "driver.collect_ms": action_s * 1e3 if self.w.action == "pandas" else 0.0,
        }


# -- the loop and its summaries ---------------------------------------------


def measure(runner: Runner, seconds: float, seed: int, speed: HostSpeed) -> list[list[dict]]:
    """One cold pass, the workload's untimed settling passes, then warm
    passes until they have taken ``seconds`` of wall time (oracle checks
    excluded) and at least MIN_WARM_PASSES are done. The cold pass runs in
    the pinned order, because the first query of a fresh session pays
    one-time costs that depend on which query it is; each later pass in a
    seeded order. After each pass, one host-speed sample."""
    rng = random.Random(seed)
    passes: list[list[dict]] = []
    first_warm = 1 + runner.w.settle_passes
    start = check_s = 0.0
    while True:
        if len(passes) == first_warm:
            start, check_s = time.perf_counter(), 0.0
        order = list(runner.w.queries)
        if passes:
            rng.shuffle(order)
        recs = []
        for name in order:
            t = time.perf_counter()
            first = name not in runner.checked
            recs.append(runner.call(len(passes), name))
            if first and name in runner.checked:
                check_s += time.perf_counter() - t - recs[-1].get("latency_s", 0.0)
        passes.append(recs)
        speed.sample()
        warm = len(passes) - first_warm
        if warm >= MIN_WARM_PASSES and time.perf_counter() - start - check_s >= seconds:
            return passes


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least TAIL_BEYOND samples beyond it
    (the (TAIL_BEYOND+1)-th largest sample) and that percentile. With too
    few samples for that percentile to lie above the median, the maximum
    and 100."""
    s = sorted(samples)
    k = len(s) - TAIL_BEYOND - 1
    if k < len(s) // 2:
        return s[-1], 100.0
    return s[k], 100.0 * (k + 1) / len(s)


def end_to_end(cold, warm, setup, peak_rss_mb) -> tuple[dict, dict]:
    """``cold``: the cold pass; ``warm``: the warm passes after settling."""
    cold = [r for r in cold if r["error"] is None]
    warm = [[r for r in p if r["error"] is None] for p in warm]
    # 0.0 stands in only when every warm call failed (the run is then not correct)
    warm_lat = [r["latency_s"] for p in warm for r in p] or [0.0]
    tail_s, tail_pct = tail(warm_lat)
    metrics = {
        "setup_s": setup["import_s"] + setup["session_s"] + setup["warmup_s"],
        "cold_total_s": sum(r["latency_s"] for r in cold),
        "warm_total_s": statistics.median(sum(r["latency_s"] for r in p) for p in warm),
        "query_p50_s": statistics.median(warm_lat),
        "peak_rss_mb": peak_rss_mb,
    }
    detail = {
        # Not a BENCHMARK.json metric: on a shared host it spreads as much
        # as wall time.
        "executor_cpu_s": statistics.mean(sum(r.get("cpu_s", 0.0) for r in p) for p in warm),
        # Printed, not judged by BENCHMARK.json: under 22 warm samples a
        # run has no percentile above the median with ten samples beyond
        # it, so this is the run's slowest warm call (see tail()).
        "query_tail_s": tail_s,
        "query_tail_percentile": tail_pct,
        "query_tail_samples": len(warm_lat),
        "warm_passes": len(warm),
        "setup": setup,
    }
    return metrics, detail


def per_layer(cold, warm, setup) -> dict[str, float]:
    """Per-layer numbers: per-pass totals, median over the warm passes;
    codegen from the cold pass, where compiles happen."""

    def pass_totals(p):
        tot: dict[str, float] = {}
        for r in p:
            for k, v in r.get("layers", {}).items():
                if k in ("spark.exec.max_task_ms", "spark.exec.max_task_input_rows",
                         "spark.exec.skew_ratio"):
                    tot[k] = max(tot.get(k, 0.0), v)
                else:
                    tot[k] = tot.get(k, 0.0) + v
            tot["cache.relations_left"] = tot.get("cache.relations_left", 0.0) + r.get(
                "relations_left", 0
            )
            tot["driver.rows_out"] = tot.get("driver.rows_out", 0.0) + (r.get("rows_out") or 0)
        return tot

    warm = [pass_totals(p) for p in warm]
    keys = sorted({k for t in warm for k in t})
    out = {k: statistics.median(t.get(k, 0.0) for t in warm) for k in keys}
    cold = pass_totals(cold)
    for k in ("spark.catalyst.codegen_compiles", "spark.catalyst.codegen_ms"):
        out[k] = cold.get(k, 0.0)
    out["registry.import_s"] = setup["import_s"]
    out["session.start_s"] = setup["session_s"]
    out["sources.load_ms"] = out.get("span.sources", 0.0)
    out["sources.load_calls"] = out.get("sources.load_calls", 0.0)
    out["sources.rescan_ratio"] = (
        out.get("sources.scan_ops", 0.0) / out["sources.tables"]
        if out.get("sources.tables") else 0.0
    )
    build = out.get("span.operators", 0.0)
    out["operators.build_ms"] = build
    out["operators.build_share"] = build / max(
        build + out.get("span.action", 0.0) + out.get("span.driver", 0.0) + out["sources.load_ms"],
        1e-9,
    )
    # Layer shares of the time a pass spends, for comparing workloads.
    catalyst_ms = sum(
        out.get(f"spark.catalyst.{p}_ms", 0.0) for p in ("analysis", "optimization", "planning")
    ) + out.get("spark.catalyst.codegen_ms", 0.0)
    parts = {
        "build_catalyst": max(build - out.get("operators.eager_job_ms", 0.0), 0.0) + catalyst_ms,
        "exec_shuffle": out.get("spark.exec.run_ms", 0.0)
        + out.get("spark.shuffle.fetch_wait_ms", 0.0)
        + out.get("spark.shuffle.write_ms", 0.0),
        "python_eager": out.get("spark.python.run_ms", 0.0)
        + out.get("operators.eager_job_ms", 0.0),
    }
    whole = sum(parts.values()) or 1.0
    for k, v in parts.items():
        out[f"share.{k}"] = v / whole
    for k in [k for k in out if k.startswith("span.") or k == "sources.tables"]:
        del out[k]
    return out


# -- process lifetime ----------------------------------------------------------


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS of this process and of the JVM (its VmHWM, read while it
    still runs), in MB."""
    from pyspark import SparkContext

    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return {"python": own / 1024.0, "jvm": hwm / 1024.0}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the whole record to this JSON file")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(ORACLE_SCRIPT):
        print(f"perfbench: {PKG}/ or scripts/check_oracle.py missing under {ROOT}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    configure_env(run_dir)
    sys.path.insert(0, ROOT)
    try:
        return run(args, workload, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def generate(seed: int, k: int) -> tuple[str, dict]:
    """The seeded input, made by gen.py in a child process so that none of
    its memory counts toward this process's peak RSS."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), os.path.join(WORK, "inputs"),
         str(seed), str(SF), str(k)],
        capture_output=True, text=True, timeout=300, check=True,
    )
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return out["dir"], out["meta"]


def run(args, workload, run_dir) -> int:
    speed = HostSpeed()
    try:
        return run_with(args, workload, run_dir, speed)
    finally:
        speed.close()


def run_with(args, workload, run_dir, speed: HostSpeed) -> int:
    clock = {"start": time.perf_counter()}
    data_dir, inputs = generate(args.seed, workload.k)
    for _ in range(3):
        speed.sample()
    clock["generated"] = time.perf_counter()
    tracer = Tracer(bool(args.trace))
    scratch_dir = os.path.join(run_dir, "scratch")
    spark = None
    try:
        qs, spark, setup = set_up(tracer, scratch_dir, data_dir)
        clock["set_up"] = time.perf_counter()
        missing = [n for n in workload.queries if n not in qs]
        if missing:
            raise KeyError(f"workload {workload.name} names unregistered queries {missing}")
        runner = Runner(workload, spark, qs, data_dir, tracer, StatusStores(spark))
        passes = measure(runner, args.seconds, args.seed, speed)
        clock["measured"] = time.perf_counter()
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            stop_jvm(spark)
    clock["stopped"] = time.perf_counter()
    runner.oracle_check(run_dir)
    clock["checked"] = time.perf_counter()
    phases = {
        f"{b}_s": clock[b] - clock[a]
        for a, b in zip(list(clock), list(clock)[1:])
    }

    calls = [r for p in passes for r in p]
    errors = {r["query"]: r["error"] for r in calls if r["error"]}
    wrong = {n: p for n, p in runner.checked.items() if p}
    failed = sum(1 for r in calls if r["error"]) + len(wrong)
    cold, warm = passes[0], passes[1 + workload.settle_passes:]
    raw, detail = end_to_end(cold, warm, setup, rss["python"] + rss["jvm"])
    factor = speed.factor()
    # Timings in seconds at the reference host speed (hostspeed.py);
    # memory as measured.
    metrics = {k: v * factor if k.endswith("_s") else v for k, v in raw.items()}
    detail["raw"] = raw
    detail["host_speed"] = {"factor": factor, "samples": speed.samples}
    detail["peak_rss_mb"] = rss
    fail_share = failed / len(calls)
    units = {"peak_rss_mb": "MB"}
    if args.trace:
        shown = per_layer(cold, warm, setup)
    else:
        shown = metrics
    record = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores(),
        "spark_cores": spark_cores(),
        "end_to_end": metrics,
        "fail_share": fail_share,
        "detail": detail,
        "inputs": inputs,
        "phases": phases,
        "errors": errors,
        "wrong": wrong,
        "calls": [{k: v for k, v in r.items() if k != "layers"} for r in calls],
    }
    if args.trace:
        record["per_layer"] = shown
        record["spans"] = tracer.spans
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{workload.name}-seed{args.seed}.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    for name, problem in {**errors, **wrong}.items():
        print(f"FAIL {name}: {problem}")
    summary = dict(
        metrics,
        host_factor=factor,
        **{f"raw_{k}": v for k, v in raw.items() if k.endswith("_s")},
        raw_query_tail_s=detail["query_tail_s"],
        raw_executor_cpu_s=detail["executor_cpu_s"],
        fail_share=fail_share,
    )
    print(" ".join(f"{k}={v:.4g}" for k, v in summary.items()))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(calls),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units.get(k, unit_of(k))} for k, v in shown.items()
                },
            }
        )
    )
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_ratio")) or name.startswith("share."):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
