"""Shared machinery of the benchmark.

* ``Bench`` holds one invocation's state: the Spark session, the
  attempted/failed operation counts, the end-to-end and per-layer metrics,
  and the extra named figures each workload reports.
* ``Tracer`` records spans (name, start, end, parent) in memory around the
  calls the benchmark makes into each layer and writes them out once.
* ``plan_metrics`` walks an executed physical plan (descending into AQE
  query stages) and sums the SQL metrics each layer exposes;
  ``captured_plans`` applies it to every action a block of code runs.
* ``become_subreaper`` and ``reap_children`` make sure that no process the
  benchmark started, directly or through the JVM, outlives it.
* ``RssSampler`` samples the resident memory of the JVM and its Python
  workers from a thread of the benchmark process.

Everything the benchmark writes goes under ``.perfbench_work/`` at the root
of the checkout; nothing is written elsewhere.
"""
from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RSS_OPS = 2


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every scratch location of Spark, the JVM and Python at WORK,
    and make the program importable by the Python workers.  Must run before
    the first SparkSession starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


# SQL metric name -> (per-layer key, scale to report units).  Timing
# metrics are milliseconds in the plan; shuffle write time is nanoseconds.
_PLAN_METRICS = {
    "scanTime": ("scan_s", 1e-3),
    "pipelineTime": ("codegen_s", 1e-3),
    "shuffleBytesWritten": ("exchange_bytes", 1),
    "shuffleRecordsWritten": ("exchange_records", 1),
    "pythonTotalTime": ("python_total_s", 1e-3),
    "pythonInitTime": ("python_init_s", 1e-3),
    "pythonBootTime": ("python_boot_s", 1e-3),
    "pythonDataSent": ("arrow_sent_bytes", 1),
    "pythonDataReceived": ("arrow_received_bytes", 1),
    "pythonNumRowsReceived": ("python_rows_out", 1),
}
PLAN_KEYS = tuple(k for k, _ in _PLAN_METRICS.values()) + ("exchanges",)


def plan_metrics(plan) -> dict[str, float]:
    """Sum the SQL metrics of an executed physical plan, after its action ran.

    Descends through AdaptiveSparkPlanExec into the final plan and through
    every *QueryStageExec into the stage it wraps; a reused exchange is not
    descended (its metrics belong to the exchange it reuses)."""
    out = {k: 0.0 for k in PLAN_KEYS}

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.startswith("Reused"):
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls == "ShuffleExchangeExec":
            out["exchanges"] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            spec = _PLAN_METRICS.get(kv._1())
            if spec is not None:
                out[spec[0]] += kv._2().value() * spec[1]
        children = node.children().iterator()
        while children.hasNext():
            walk(children.next())

    walk(plan)
    return out


class PlanCapture:
    """Plan metrics summed over the actions of one ``captured_plans`` block."""

    def __init__(self):
        self.totals = {k: 0.0 for k in PLAN_KEYS}
        self.actions: list[str] = []
        self.failed_actions: list[str] = []
        self.errors: list[str] = []


class _PlanListener:
    """A QueryExecutionListener implemented in Python (through the py4j
    callback server).  One is registered per session; while a block of
    ``captured_plans`` runs, it adds the ``plan_metrics`` of every action
    that ends to that block's capture."""

    def __init__(self):
        self.capture: PlanCapture | None = None

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java name)
        cap = self.capture
        if cap is None:
            return
        try:
            for k, v in plan_metrics(qe.executedPlan()).items():
                cap.totals[k] += v
            cap.actions.append(func_name)
        except Exception as e:  # raised again in the calling thread
            cap.errors.append(f"{func_name}: {e!r}")

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java name)
        if self.capture is not None:
            self.capture.failed_actions.append(func_name)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@contextmanager
def captured_plans(spark):
    """Plan metrics of every action the block runs, summed: the block's own
    actions and the eager ``localCheckpoint`` actions the program runs
    while it builds a query, whose work a walk of the final plan would only
    see as an RDD scan.  Listeners run on Spark's listener bus, so the
    capture is closed after the bus has drained."""
    listener = getattr(spark, "_perfbench_plan_listener", None)
    if listener is None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        listener = spark._perfbench_plan_listener = _PlanListener()
        spark._jsparkSession.listenerManager().register(listener)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    cap = listener.capture = PlanCapture()
    try:
        yield cap
    finally:
        bus.waitUntilEmpty()
        listener.capture = None
    if cap.errors:
        raise RuntimeError("plan capture: " + "; ".join(cap.errors))


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    kids = _proc_children()
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak RSS of a process tree (the JVM, its Python daemon and
    workers), polled every ``interval`` seconds from a thread."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its descendants
    (Linux ``PR_SET_CHILD_SUBREAPER``): the Python daemon and workers a
    JVM forks outlive the JVM for a moment, and ``reap_children`` must be
    able to wait for them.  A SIGTERM unwinds the stack like an exception,
    so that every ``finally`` that stops a process still runs."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def reap_children() -> None:
    """Wait until this process has no child left, reaping each one.  A
    child still there after 20 seconds gets SIGTERM, and SIGKILL five
    seconds later."""
    deadline, signals = time.time() + 20, [signal.SIGKILL, signal.SIGTERM]
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _proc_children().get(os.getpid(), [])
        if not kids:
            return
        if time.time() > deadline:
            if not signals:
                print(f"processes {kids} did not end", file=sys.stderr)
                return
            sig = signals.pop()
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.02)


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait until the JVM has
    exited.  The Python daemon and workers it forked end on their own a
    moment later; ``reap_children`` waits for them."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:  # also when an interrupted call left the gateway unusable
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Bench:
    """State of one benchmark invocation."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 t_start: float):
        self.workload = workload
        self.t_start = t_start
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.cores = host_cores()
        self.spark = None
        self.rss: RssSampler | None = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        # named figures printed as report lines: name -> (value, unit)
        self.report: dict[str, tuple[float, str]] = {}
        self.op_walls: list[float] = []  # untraced timed ops, in order

    def op(self, ok: bool, what: str, n: int = 1) -> bool:
        """Count ``n`` operations; all of them failed when ``ok`` is false."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.notes.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)

    def start_spark(self, app: str, **kw):
        from tei_chunker_spark.sources.session import get_spark

        with self.tracer.span("session.get_spark"):
            t0 = time.time()
            self.spark = get_spark(app, master=f"local[{self.cores}]", **kw)
            self.put("session.get_spark_s", time.time() - t0, "s")
        self.rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        return self.spark

    def setup_done(self) -> None:
        """End of set-up: called right after the first warm-up action."""
        self.put("setup_s", time.time() - self.t_start, "s")

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM has exited."""
        if self.spark is None:
            return
        self.rss.stop()
        self.put("peak_rss_mb", self.rss.peak / 2**20, "MB")
        stop_spark(self.spark)
        self.spark = None

    def write_trace(self) -> str:
        """Write the spans and every reported figure once, at the end."""
        out = os.path.join(WORK, "trace")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as fh:
            json.dump({"spans": self.tracer.spans, "report": self.report}, fh)
        return path

    def jobs_in_group(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def timed(self, op, min_ops: int = 1, warm_ops: int = 1) -> None:
        """Run ``op(i)`` untimed for i = -warm_ops .. -1 (the JIT and caches
        settle), then ``op(i)`` for i = 0, 1, ... back to back (closed loop, one at a time) until ``seconds`` have
        passed and at least ``min_ops`` ran.  Each op times itself, leaving
        its untimed output check out of its wall.

        An op that raises counts as failed and the loop goes on.  Peak RSS
        is sampled up to the end of timed op RSS_OPS - 1, so that it covers
        the same work however many ops fit into ``seconds``."""
        for i in range(-warm_ops, 0):
            self._guarded(op, i)
        t_end = time.time() + self.seconds
        i = 0
        while i < min_ops or time.time() < t_end:
            self._guarded(op, i)
            i += 1
            if i == RSS_OPS:
                self.rss.stop()

    def _guarded(self, op, i: int) -> None:
        try:
            op(i)
        except Exception as e:  # one broken operation must not end the run
            traceback.print_exc()
            self.op(False, f"operation {i} raised {type(e).__name__}: {e}")
