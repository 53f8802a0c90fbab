"""Shared parts of the benchmark: Spark session lifetime, set-up timing,
worker memory sampling, the calibration probe, percentile helpers and the
reader of Spark's executed-plan SQL metrics.

Nothing here reaches inside `arabic_ocr_spark`: the engine is driven
through its public functions, and the Spark-layer numbers are the SQL
metrics Spark keeps on every executed plan anyway.
"""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import threading
import time

MASTER = "local[4]"
SETUPS = 3
MIN_OPS = 2


# --------------------------------------------------------------------- stats

def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; the
    maximum when fewer than 21 samples leave no such percentile above the
    median."""
    s = sorted(xs)
    return float(s[len(s) - 11] if len(s) >= 21 else s[-1])


def window_done(t_start: float, walls: list[float], seconds: float) -> bool:
    """The closed loop's stop rule: after at least MIN_OPS operations, stop
    when the next one, at the median duration so far, would end past the
    window of `seconds` that began at t_start."""
    return len(walls) >= MIN_OPS and time.perf_counter() - t_start + median(walls) > seconds


def calibration_ms() -> float:
    """A fixed single-thread CPU probe (best of three), recorded before and
    after each run so that records from differently loaded machines can be
    told apart."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += (i * i) % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


# ------------------------------------------------------------------- spark

def start_spark(master: str = MASTER):
    from arabic_ocr_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the active session, shut the py4j gateway down and wait until
    the JVM (and with it Spark's Python worker daemon) has exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_setups(warmup) -> tuple[object, float, list[float]]:
    """Start the session and run the workload's warm-up action SETUPS times
    (the first start also launches the JVM); returns the live session of
    the last start, the median set-up time and every set-up time."""
    times = []
    spark = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_spark()
        warmup(spark)
        times.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            spark.stop()
    return spark, median(times), times


# ---------------------------------------------------------- child processes

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    descendant whose parent exits first (a forked Python worker of the JVM,
    the resource tracker of a multiprocessing pool) is re-parented here, not
    to init, so that stop_children can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    return _children_map().get(os.getpid(), [])


def stop_children(grace: float = 10.0) -> None:
    """Stop multiprocessing's resource tracker, then wait until no child
    process is left; what still runs after `grace` seconds is sent SIGTERM,
    and five seconds later SIGKILL, again each round until none is left."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()  # closes its pipe and waits for it
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 5.0
        time.sleep(0.05)


# ------------------------------------------------------ worker memory (RSS)

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> tuple[str, int]:
    name, rss = "", 0
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
    except OSError:
        pass
    return name, rss


def python_workers_rss_mb(root_pid: int) -> float:
    """Total RSS of the Python processes descending from root_pid (the
    JVM): Spark's Python worker daemon and the workers it forks."""
    kids = _children_map()
    total = 0
    stack = list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        name, rss = _rss_kb(pid)
        if name.startswith("python"):
            total += rss
    return total / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


class WindowSampler:
    """Machine probes around the measured window: the Python workers' peak
    total RSS, sampled every `period` seconds from /proc (psutil is not
    available), and the share of CPU time the hypervisor stole."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root_pid = root_pid
        self.period = period
        self.peak_mb = 0.0
        self.steal_share = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, python_workers_rss_mb(self.root_pid))
            self._stop.wait(self.period)

    def __enter__(self):
        self._ticks = _cpu_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, python_workers_rss_mb(self.root_pid))
        total, steal = (b - a for a, b in zip(self._ticks, _cpu_ticks()))
        self.steal_share = steal / max(1, total)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# ------------------------------------------------------ spark plan metrics

class PlanRecorder:
    """Collects the QueryExecution of every SQL action run while it is
    registered (a py4j-implemented QueryExecutionListener), including the
    writes inside a stream's foreachBatch."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.executions: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self.executions.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def drain(self) -> list:
        """Wait until Spark has delivered every pending event, then hand
        over (and forget) the executions recorded so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.executions = self.executions, []
        return out

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)


def plan_nodes(plan):
    """Every physical node of an executed plan, descending through adaptive
    plans and query stages."""
    stack = [plan]
    while stack:
        p = stack.pop()
        yield p
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        ch = p.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def node_metrics(node) -> dict[str, tuple[int, str]]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = (int(m.value()), m.metricType())
    return out


def _ms(value: int, kind: str) -> float:
    return value / 1e6 if kind == "nsTiming" else float(value)


def spark_layer(executions) -> dict[str, float]:
    """Sums the SQL metrics of the given executed plans into the spark.*
    per-layer metrics (times in ms, sizes in bytes; sort peak is a max)."""
    acc = dict.fromkeys(
        ["scan_ms", "scan_bytes", "shuffle_bytes", "shuffle_write_ms", "sort_ms", "spill_bytes",
         "python_boot_ms", "python_init_ms", "python_total_ms", "python_sent_bytes"], 0.0)
    sort_peak = 0
    for qe in executions:
        for node in plan_nodes(qe.executedPlan()):
            name = node.getClass().getSimpleName()
            m = node_metrics(node)
            if "spillSize" in m:
                acc["spill_bytes"] += m["spillSize"][0]
            if name == "FileSourceScanExec":
                acc["scan_ms"] += _ms(*m.get("scanTime", (0, "timing")))
                acc["scan_bytes"] += m.get("filesSize", (0, "size"))[0]
            elif name == "ShuffleExchangeExec":
                written = m.get("shuffleBytesWritten", m.get("dataSize", (0, "size")))
                acc["shuffle_bytes"] += written[0]
                acc["shuffle_write_ms"] += _ms(*m.get("shuffleWriteTime", (0, "nsTiming")))
            elif name == "SortExec":
                acc["sort_ms"] += _ms(*m.get("sortTime", (0, "timing")))
                sort_peak = max(sort_peak, m.get("peakMemory", (0, "size"))[0])
            for key, metric in (("python_boot_ms", "pythonBootTime"),
                                ("python_init_ms", "pythonInitTime"),
                                ("python_total_ms", "pythonTotalTime")):
                if metric in m:
                    acc[key] += _ms(*m[metric])
            if "pythonDataSent" in m:
                acc["python_sent_bytes"] += m["pythonDataSent"][0]
    out = {f"spark.{k}": float(v) for k, v in acc.items()}
    out["spark.sort_peak_mb"] = sort_peak / (1024 * 1024)
    return out


def has_node(qe, simple_name: str) -> bool:
    return any(n.getClass().getSimpleName() == simple_name for n in plan_nodes(qe.executedPlan()))


def _jobs(spark) -> list:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return [jobs.apply(i) for i in range(jobs.size())]


def last_job_id(spark) -> int:
    return max((j.jobId() for j in _jobs(spark)), default=-1)


def tasks_since(spark, job_id: int) -> int:
    """Tasks that ran in the Spark jobs started after job `job_id`."""
    return sum(j.numCompletedTasks() + j.numFailedTasks() for j in _jobs(spark) if j.jobId() > job_id)
