"""Shared machinery of the benchmark: the checkout-local environment, the
quiet Spark session, set-up and closed-loop timing, operation counting,
peak-RSS sampling and readers for Spark's own status stores.

Nothing here reaches inside ``bioanalyzer_backend_spark``: the engine is
driven only through its public functions, and Spark's numbers come from
its status stores (SQL metrics per executed plan, stage data per job).
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# Spark gets at most 4 cores and leaves one to the driver process and
# whatever else runs on the box: on a 4-core box with outside load, a
# local[4] pass swung by +-15% from run to run.
CORES = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
MASTER = f"local[{CORES}]"
# Input files per corpus: two scan tasks per core.
CORPUS_FILES = 2 * CORES
# Arrow batch size the engine's session sets (session.build_session);
# the direct model calls slice the captions the same way.
ARROW_BATCH = 2048


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the engine. Must run before the JVM starts."""
    for d in ("corpus", "tmp", "spark-local", "work", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None


def corpus(seed: int, rows: int) -> tuple[str, int]:
    """Seeded image+caption table as a directory of ``CORPUS_FILES``
    parquet files in id order (generate-once per (rows, seed)), so the
    scan runs as several tasks whatever the row-group size. Returns the
    directory and its bytes. Harness work: never inside a timed or
    set-up window."""
    import pyarrow.parquet as pq

    from bioanalyzer_backend_spark.datagen import synth
    path = synth.write_images_parquet(os.path.join(WORK, "corpus"), rows,
                                      seed=seed, dims=(16, 32))
    parts = path.replace(".parquet", f"_files{CORPUS_FILES}")
    if not os.path.isdir(parts):
        table = pq.read_table(path)
        step = -(-table.num_rows // CORPUS_FILES)
        tmp = parts + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        for i in range(CORPUS_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tmp, f"part-{i:03d}.parquet"))
        os.replace(tmp, parts)
    size = sum(os.path.getsize(os.path.join(parts, f))
               for f in os.listdir(parts))
    return parts, size


def build_quiet_session():
    """The engine's session on ``MASTER`` with console progress bars off
    and logging at ERROR, so stdout carries only metric lines."""
    from bioanalyzer_backend_spark.session import build_session
    tmp = os.path.join(WORK, "tmp")
    spark = build_session(
        "perfbench", master=MASTER, shuffle_partitions=max(8, CORES),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it (the
    gateway exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs) -> float:
    return float(statistics.median(xs))


class Ops:
    """Operations attempted and failed: exceptions and output-check
    mismatches both count as failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}

    def attempt(self, fn) -> tuple[bool, object]:
        """Run one operation: (True, result), or (False, None) counted
        as failed if it raised."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False, None

    def check(self, name: str, fn) -> bool:
        """Run one output check, a callable returning True on a match."""
        self.attempted += 1
        try:
            ok = fn() is True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"check failed: {name}", file=sys.stderr)
        self.checks[name] = ok
        return ok


def closed_loop(ops: Ops, fn, seconds: float, min_iters: int,
                warmup: int = 0) -> list:
    """Closed loop, one client: call ``fn`` ``warmup`` times untimed, then
    back to back until ``seconds`` have passed and at least ``min_iters``
    calls succeeded. Returns what the successful timed calls returned."""
    for _ in range(warmup):
        fn()
    out, failed = [], 0
    deadline = time.perf_counter() + seconds
    while len(out) < min_iters or time.perf_counter() < deadline:
        ok, res = ops.attempt(fn)
        if ok:
            out.append(res)
        else:
            failed += 1
            if failed > min_iters:
                raise RuntimeError("closed loop: too many failed calls")
    return out


def timed(fn) -> float:
    """Wall seconds of one call."""
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def setup_times(build_and_warm, n: int) -> tuple[object, list]:
    """Set up ``n`` times, stopping the previous session in between; the
    last session stays up. ``build_and_warm()`` returns the session."""
    spark, times = None, []
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_and_warm()
        times.append(time.perf_counter() - t0)
    return spark, times


# -- peak RSS ---------------------------------------------------------------

def _tree_rss_kb(root_pid: int) -> int:
    """RSS of ``root_pid`` plus all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total * (os.sysconf("SC_PAGE_SIZE") // 1024)


class RssSampler:
    """Samples the RSS of the Spark JVM and its Python workers on a
    background thread; ``stop()`` joins it and returns the peak in MB."""

    def __init__(self, root_pid: int, period_s: float = 1.0):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.root_pid))
            if self._stop.wait(self.period_s):
                return

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=30)
        return self.peak_kb / 1024.0


# -- Spark status stores ----------------------------------------------------

# Plan nodes whose SQL metrics the layers read.
NODES = ("Scan parquet", "ArrowEvalPython")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str, mtype: str) -> float:
    """Total of one formatted SQL metric value: sums as integers, sizes in
    bytes, timings in seconds. Multi-task metrics format as
    ``total (min, med, max ...)\\n<total> (...)``."""
    total = text.splitlines()[-1].split(" (")[0].strip()
    if mtype == "sum":
        return float(total.replace(",", ""))
    num, unit = total.split()
    if mtype == "size":
        return float(num) * _SIZE[unit]
    return float(num) * _TIME[unit]


class SparkStats:
    """Reads the SQL status store (per-node metrics of every executed
    plan; works with the UI disabled) and the app status store (exact
    per-stage numbers) of one live session."""

    def __init__(self, spark):
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._nodes: dict[int, list] = {}

    def last_execution_id(self) -> int:
        execs = self.sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def executions_since(self, after_id: int) -> list[int]:
        execs = self._conv.asJava(self.sql.executionsList())
        return [e.executionId() for e in execs
                if e.executionId() > after_id]

    def node_metrics(self, eid: int) -> list[tuple[str, str, float]]:
        """(node name, metric name, total) for the metrics of the scan and
        Python-UDF nodes of the execution's final plan graph (cached: an
        ended execution's metrics no longer change)."""
        if eid not in self._nodes:
            vals = self._conv.asJava(self.sql.executionMetrics(eid))
            nodes = self._conv.asJava(self.sql.planGraph(eid).allNodes())
            out = []
            for node in nodes:
                name = node.name()
                if not name.startswith(NODES):
                    continue
                for m in self._conv.asJava(node.metrics()):
                    text = vals.get(m.accumulatorId())
                    if text is None or m.metricType() == "average":
                        continue
                    out.append((name, m.name(),
                                parse_sql_metric(text, m.metricType())))
            self._nodes[eid] = out
        return self._nodes[eid]

    def stages_of(self, job_ids) -> list:
        """StageData of every stage of these jobs that ran (not skipped)."""
        from py4j.protocol import Py4JJavaError
        tracker = self.spark.sparkContext.statusTracker()
        sids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        out = []
        for s in sorted(sids):
            try:
                sd = self.app.lastStageAttempt(s)
            except Py4JJavaError:   # never submitted: no attempt recorded
                continue
            if sd.status().toString() != "SKIPPED":
                out.append(sd)
        return out

    def execution_jobs(self, eid: int) -> list[int]:
        jobs = self._conv.asJava(self.sql.execution(eid).get().jobs())
        return [int(j) for j in jobs.keySet()]

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) of one job group."""
        jids = self.spark.sparkContext.statusTracker() \
            .getJobIdsForGroup(group)
        stages = self.stages_of(jids)
        return len(jids), len(stages), sum(s.numTasks() for s in stages)


def sql_totals(stats: SparkStats, eids, node_prefix: str,
               metric: str) -> float:
    return sum(v for eid in eids
               for node, name, v in stats.node_metrics(eid)
               if node.startswith(node_prefix) and name == metric)


def shuffle_bytes(stats: SparkStats, eids) -> int:
    """Exact shuffle bytes written by the stages of these executions."""
    jobs = [j for e in eids for j in stats.execution_jobs(e)]
    return sum(s.shuffleWriteBytes() for s in stats.stages_of(jobs))


def scan_layer(stats: SparkStats, eids) -> dict:
    """Parquet scans of these executions: count and file bytes read."""
    sizes = [v for eid in eids for node, name, v in stats.node_metrics(eid)
             if node.startswith("Scan parquet")
             and name == "size of files read"]
    return {"scan.n_scans": float(len(sizes)),
            "scan.bytes_read": float(sum(sizes))}


def python_layer(stats: SparkStats, eids, input_rows: int) -> dict:
    """The ArrowEvalPython (gate UDF) SQL metrics of these executions."""
    def tot(metric):
        return sql_totals(stats, eids, "ArrowEvalPython", metric)
    return {
        "functions.python_run_s": tot("time to run Python workers"),
        "functions.python_start_s": tot("time to start Python workers"),
        "functions.python_init_s": tot("time to initialize Python workers"),
        "functions.bytes_to_python": tot("data sent to Python workers"),
        "functions.bytes_from_python":
            tot("data returned from Python workers"),
        "functions.udf_rows_per_row":
            tot("number of output rows") / input_rows,
    }


# -- environment record -----------------------------------------------------

def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git repository."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def environment(args, spark, rows: int, corpus_bytes: int,
                load_start) -> dict:
    import pyspark
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load_avg_start": list(load_start),
        "load_avg_end": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "git_commit": git_commit(),
        "master": MASTER,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "corpus_rows": rows,
        "corpus_bytes": corpus_bytes,
    }
