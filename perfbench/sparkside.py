"""Spark side of the benchmark: host-sized session set-up, the digest
each action observes, Spark's own status store, the RSS sampler and the
orderly shutdown of the JVM it starts."""

from __future__ import annotations

import os
import re
import statistics
import subprocess
import sys
import threading
import time

OP_TIMEOUT_S = 60.0
DRIVER_MEM = "2g"


def configure_env(cache_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``cache_dir``; run workers on this interpreter. Must run before the
    JVM starts."""
    tmp = os.path.abspath(os.path.join(cache_dir, "tmp"))
    local = os.path.abspath(os.path.join(cache_dir, "spark-local"))
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd()] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def digest_exprs(df):
    """Order-independent digest of a DataFrame's rows: row count, sum of
    the low 32 bits of each row's xxhash64, and XOR of the full hashes."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
        F.bit_xor(h).alias("x"),
    ]


def digest_of(spark, pdf, schema) -> dict:
    """Digest of a pandas DataFrame, computed by the same expressions."""
    df = spark.createDataFrame(pdf, schema=schema)
    row = df.agg(*digest_exprs(df)).collect()[0]
    return {"n": row["n"], "s": row["s"] or 0, "x": row["x"] or 0}


def run_action(spark, build, group: str, watchdog, corrupt: bool = False):
    """One closed-loop operation: build the output DataFrame, observe its
    digest and write it to the ``noop`` sink. Returns (wall_s, digest,
    output schema); raises on failure or timeout."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel=True)
    t0 = time.perf_counter()
    watchdog.arm(group, t0 + OP_TIMEOUT_S)
    try:
        out = build()
        if corrupt:  # self-test of the output check: drop one document
            col = out.columns[0]
            first = out.agg(F.min(col)).collect()[0][0]
            out = out.filter(F.col(col) != F.lit(first))
        obs = Observation(group)
        out.observe(obs, *digest_exprs(out)).write.format("noop").mode("overwrite").save()
        got = obs.get
        wall = time.perf_counter() - t0
    finally:
        watchdog.disarm()
    if watchdog.fired:
        raise TimeoutError(f"{group} exceeded {OP_TIMEOUT_S} s")
    return wall, {"n": got["n"], "s": got["s"] or 0, "x": got["x"] or 0}, out.schema


# -- Python worker RSS + operation watchdog (the one extra thread) -----------


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _python_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/comm") as f:
            if not f.read().startswith("python"):
                return 0.0
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
    except (OSError, ValueError, IndexError):
        return 0.0
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class Monitor(threading.Thread):
    """Samples the resident set of every Python process under this one
    (the Spark Python daemon and its forked workers) while ``sampling``
    is set, and cancels the armed job group when its deadline passes."""

    def __init__(self, spark_getter, period_s: float = 0.1):
        super().__init__(name="bench-monitor", daemon=True)
        self._spark = spark_getter
        self._period = period_s
        self._halt = threading.Event()
        self._lock = threading.Lock()
        self._group = None
        self._deadline = 0.0
        self.fired = False
        self.sampling = False
        self.peak_mb = 0.0

    def arm(self, group: str, deadline: float) -> None:
        with self._lock:
            self._group, self._deadline, self.fired = group, deadline, False

    def disarm(self) -> None:
        with self._lock:
            self._group = None

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(self._period):
            if self.sampling:
                for pid in _descendants(me):
                    self.peak_mb = max(self.peak_mb, _python_rss_mb(pid))
            with self._lock:
                due = self._group is not None and time.perf_counter() > self._deadline
                group = self._group
                if due:
                    self.fired, self._group = True, None
            if due:
                self._spark().sparkContext.cancelJobGroup(group)

    def close(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# -- Spark's status store ----------------------------------------------------

_UNITS = {
    "": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1, "m": 60, "min": 60, "h": 3600,
}
_VALUE = r"([\d.,]+)\s*([A-Za-z]*)"


def _num(text: str, unit: str) -> float:
    return float(text.replace(",", "")) * _UNITS.get(unit, 1)


def parse_metric(formatted: str) -> tuple[float, float | None]:
    """(total, per-task median) of a formatted SQL metric such as
    'total (min, med, max (stageId: taskId))\\n4.9 s (1.8 s, 3.1 s, ...)'."""
    line = formatted.strip().split("\n")[-1]
    m = re.match(_VALUE, line)
    total = _num(*m.groups()) if m else 0.0
    stats = re.search(r"\(" + _VALUE + r", " + _VALUE + r", ", line)
    med = _num(*stats.groups()[2:4]) if stats else None
    return total, med


def plan_counters(spark, group: str) -> dict:
    """Per-task and plan-node counters of the jobs run under ``group``.
    Task times are per-task medians and maxima, never summed."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    task_s: list[float] = []
    scan = shuffle = 0
    for j in sorted(jobs):
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else []:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            shuffle += st.shuffleWriteBytes()
            tasks = store.taskList(sid, st.attemptId(), 1 << 20)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    task_s.append(d.get() / 1000)
    sql = spark._jsparkSession.sharedState().statusStore()
    to_py = from_py = rows_py = 0.0
    py_run_med: list[float] = []
    execs = sql.executionsList()
    for k in range(execs.size()):
        e = execs.apply(k)
        if not any(e.jobs().contains(j) for j in jobs):
            continue
        values = sql.executionMetrics(e.executionId())
        nodes = sql.planGraph(e.executionId()).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = node.metrics()
            names = {metrics.apply(i).name() for i in range(metrics.size())}
            python_node = "data sent to Python workers" in names
            for i in range(metrics.size()):
                m = metrics.apply(i)
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                total, med = parse_metric(v.get())
                if m.name() == "size of files read":
                    scan += total
                elif not python_node:
                    continue
                elif m.name() == "data sent to Python workers":
                    to_py += total
                elif m.name() == "data returned from Python workers":
                    from_py += total
                elif m.name() == "number of output rows":
                    rows_py += total
                elif m.name() == "time to run Python workers" and med is not None:
                    py_run_med.append(med)
    p50 = statistics.median(task_s) if task_s else 0.0
    return {
        "pipeline.tasks": (len(task_s), "count"),
        "pipeline.task_s_p50": (p50, "s"),
        "pipeline.task_s_max": (max(task_s, default=0.0), "s"),
        "pipeline.task_skew": (max(task_s) / p50 if p50 else 0.0, "ratio"),
        "pipeline.python_run_s_p50": (statistics.median(py_run_med) if py_run_med else 0.0, "s"),
        "pipeline.bytes_to_python": (to_py, "B"),
        "pipeline.bytes_from_python": (from_py, "B"),
        "pipeline.rows_from_python": (rows_py, "count"),
        "pipeline.scan_bytes": (scan, "B"),
        "pipeline.shuffle_write_bytes": (shuffle, "B"),
    }


def shutdown(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
