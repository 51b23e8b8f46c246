"""Benchmark plumbing: a sandboxed Spark session, a /proc RSS sampler, an
in-memory span tracer that labels Spark jobs, and the event-log parser
that turns labelled jobs into per-layer engine metrics.

Nothing here touches ``dea_conflux_spark`` internals; the session comes
from the package's public ``config.get_spark(extra=...)``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import statistics
import sys
import threading
import time

from inputs import DATA_DIR, ROOT

TMP_DIR = os.path.join(DATA_DIR, "tmp")
# The one departure from the package's session defaults.  With the
# package's 16g cap, the driver heap of a flagship run grew to 5-9 GB of
# RSS on a 4-vCPU, 16 GB VM, and peak_rss_mb followed whenever the
# collector happened to run (IQR/median 0.38 over 5 seeds).  The workers'
# own peak is reported apart (info.workers_peak_rss_mb).
DRIVER_HEAP = "2g"


def sandbox_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package and the benchmark from it.  Must
    run before the JVM starts (the launcher and the workers inherit this
    environment)."""
    for sub in ("py", "spark", "java", "warehouse"):
        os.makedirs(os.path.join(TMP_DIR, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(TMP_DIR, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP_DIR, "spark")
    # no /tmp/hsperfdata_* from any JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    here = os.path.dirname(os.path.abspath(__file__))
    paths = [ROOT, here] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(cpus: int, event_log_dir: str | None):
    """-> (spark, seconds).  The timed span is the whole session start:
    JVM launch (first call in a process), SparkContext and the first
    trivial job that proves the context is up.  The session is the
    package's own (``get_spark`` defaults: shuffle partitions, Arrow
    batch size, ...); ``extra`` caps the driver heap at DRIVER_HEAP,
    keeps scratch files inside the checkout and switches the event log
    on or off."""
    from dea_conflux_spark.config import get_spark

    java_opts = ("-Djava.net.preferIPv4Stack=true "
                 f"-Djava.io.tmpdir={os.path.join(TMP_DIR, 'java')}")
    extra = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(TMP_DIR, "spark"),
        "spark.sql.warehouse.dir": os.path.join(TMP_DIR, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    t0 = time.monotonic()
    spark = get_spark(app="perfbench", cpus=cpus, extra=extra)
    spark.range(1).count()
    return spark, time.monotonic() - t0


# ------------------------------------------------------------ memory

def _children_map() -> dict:
    kids: dict = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: ppid is the 2nd field after ')'
        rest = s[s.rfind(")") + 2:].split()
        pid = int(stat.split("/")[2])
        kids.setdefault(int(rest[1]), []).append(pid)
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), sampled from /proc every ``period`` seconds, per
    window (one timed unit); the workers' own peak is kept as well."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.root_pid: int | None = None
        self.win_kb = self.win_workers_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self._thread.start()

    def sample(self) -> None:
        kids = _children_map()
        workers, todo = 0, list(kids.get(self.root_pid, ()))
        while todo:
            pid = todo.pop()
            workers += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        total = workers + _rss_kb(self.root_pid)
        with self._lock:
            self.win_kb = max(self.win_kb, total)
            self.win_workers_kb = max(self.win_workers_kb, workers)

    def new_window(self) -> None:
        with self._lock:
            self.win_kb = self.win_workers_kb = 0

    def window_peak_mb(self) -> tuple:
        """(JVM + workers, workers) peaks since :meth:`new_window`
        (sampled once more now, so a window shorter than the period still
        has a value)."""
        self.sample()
        with self._lock:
            return self.win_kb / 1024.0, self.win_workers_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# ------------------------------------------------------------ shutdown

def _descendants(root: int) -> set:
    kids, out, todo = _children_map(), set(), [root]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            out.add(pid)
            todo.append(pid)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rfind(")") + 2] != "Z"  # a zombie has ended


def _wait_gone(pids: set, timeout: float) -> set:
    deadline = time.monotonic() + timeout
    while True:
        pids = {p for p in pids if _alive(p)}
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.05)


def stop_processes(timeout: float = 20.0) -> None:
    """Stop the Spark context, the gateway JVM and every process this one
    started (the JVM's Python workers, multiprocessing pools), and wait
    until each has ended.  The JVM is told to exit the way PySpark itself
    does (EOF on its stdin), then the rest get SIGTERM and, after
    ``timeout``, SIGKILL.  Safe to call more than once."""
    import signal
    import subprocess

    pids = _descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):
                sc.stop()
        gw = SparkContext._gateway
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    # a spawn-context pool (bench.kernel_scaling_study) leaves the
    # resource tracker running until this process exits, and it ignores
    # SIGTERM: close its pipe, which ends it, and wait for it
    if "multiprocessing.resource_tracker" in sys.modules:
        from multiprocessing import resource_tracker

        with contextlib.suppress(Exception):
            resource_tracker._resource_tracker._stop()
    pids |= _descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = {p for p in pids if _alive(p)}
        for pid in pids:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        pids = _wait_gone(pids, timeout)
        if not pids:
            break
    # reap any child that ended but was never waited for
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


# ------------------------------------------------------------ tracing

class Tracer:
    """In-memory spans ``(name, start, end, parent)`` around the calls the
    benchmark makes into each layer.  When ``label_jobs`` is set, every
    Spark job started inside a span carries the span name as its job
    description, which is how the event log attributes stages and tasks
    to layers.  Spans are written to disk only by :meth:`dump`."""

    def __init__(self, spark, label_jobs: bool):
        self.sc = spark.sparkContext
        self.label_jobs = label_jobs
        self.spans: list = []
        self._stack: list = []
        self.t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent,
               "start": time.monotonic() - self.t0}
        self._stack.append(name)
        if self.label_jobs:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.t0
            self._stack.pop()
            if self.label_jobs:
                self.sc.setJobDescription(self._stack[-1] if self._stack
                                          else None)
            self.spans.append(rec)

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f,
                      indent=1)


# --------------------------------------------------------- event log

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def parse_event_log(log_dir: str) -> dict:
    """{layer: engine metrics} from a finished (stopped-context) event
    log.  A stage belongs to the description of the first job that
    listed it; ``task_skew`` is max / median task time in the layer's
    longest stage."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no finished event log in {log_dir}")
    stage_layer: dict = {}
    tasks: dict = {}
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description")
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update")
                       for a in info.get("Accumulables", [])}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "dur": info.get("Finish Time", 0)
                    - info.get("Launch Time", 0),
                    "launch": info.get("Launch Time", 0),
                    "finish": info.get("Finish Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "shuffle": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "py_sent": _as_int(acc.get(_PY_SENT)),
                    "py_ret": _as_int(acc.get(_PY_RETURNED)),
                })
    out: dict = {}
    for sid, ts in tasks.items():
        layer = stage_layer.get(sid)
        if not layer:
            continue
        m = out.setdefault(layer, {"executor_cpu_s": 0.0, "shuffle_bytes": 0,
                                   "spill_bytes": 0, "tasks": 0,
                                   "py_bytes_sent": 0, "py_bytes_returned": 0,
                                   "_longest": (-1, [])})
        m["executor_cpu_s"] += sum(t["cpu_ns"] for t in ts) / 1e9
        m["shuffle_bytes"] += sum(t["shuffle"] for t in ts)
        m["spill_bytes"] += sum(t["spill"] for t in ts)
        m["tasks"] += len(ts)
        m["py_bytes_sent"] += sum(t["py_sent"] for t in ts)
        m["py_bytes_returned"] += sum(t["py_ret"] for t in ts)
        wall = max(t["finish"] for t in ts) - min(t["launch"] for t in ts)
        if wall > m["_longest"][0]:
            m["_longest"] = (wall, [t["dur"] for t in ts])
    for m in out.values():
        durs = m.pop("_longest")[1]
        med = statistics.median(durs) if durs else 0
        m["task_skew"] = max(durs) / med if med > 0 else 1.0
    return out


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def provenance(cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "master": f"local[{cpus}]",
            "ram_gb": round(mem_kb / 1024 / 1024, 1),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "python": sys.version.split()[0]}
