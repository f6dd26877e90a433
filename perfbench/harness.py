"""Run context shared by the workloads: environment, session, spans,
memory readings and the result record."""

from __future__ import annotations

import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench.stats import tail
from perfbench.trace import Tracer


def process_start_time() -> float:
    """Wall-clock time at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        # the command name may hold spaces; fields after it are fixed
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def configure_environment(root: str, work: str, driver_memory: str) -> int:
    """Fit the Spark environment to this machine before the JVM starts.
    Returns the number of usable cores."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too) keeps its temp files in the checkout
    # and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package and the benchmark's handlers
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cores


@dataclass
class Result:
    """What a workload measured. ``e2e`` and ``layers`` map metric names
    to values; ``report`` holds the workload's own names for the summary."""

    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    report: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool, driver_memory: str):
        self.started = process_start_time()
        self._cpu_at_start = _cpu_times()
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.cores = configure_environment(root, self.work, driver_memory)
        self.eventlog_dir = os.path.join(self.work, "eventlog")
        self.tracer = Tracer()
        self.spark = None

    def path(self, *parts: str) -> str:
        """A path under this run's working directory; its parent exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under this run's working directory, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def wrap(self, name: str, fn, **attrs):
        """``fn`` timed as a span in the traced run, untouched otherwise."""
        return self.tracer.wrap(name, fn, **attrs) if self.trace else fn

    def session(self):
        from rapids_and_rivers_spark import build_session

        conf = {}
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.logStageExecutorMetrics": "true",
                # per-task heap peaks in the log need the metrics poller
                "spark.executor.metrics.pollingInterval": "100ms",
            }
        with self.span("session.build"):
            self.spark = build_session(f"perfbench-{self.workload}", extra_conf=conf)
        return self.spark

    def peak_rss_mb(self) -> tuple[float, float]:
        """High-water resident memory of the Spark JVM and of this process."""
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return _vm_hwm_kb(_jvm_pid(self.spark)) / 1024, own_kb / 1024

    def steal_share(self) -> float:
        """Share of this machine's CPU time that the hypervisor gave to
        other guests since the run started: on a shared host, a slow run
        with a high share was slowed from outside."""
        delta = [b - a for a, b in zip(self._cpu_at_start, _cpu_times())]
        return delta[7] / sum(delta) if sum(delta) else 0.0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


#: prctl option that makes orphaned descendants children of this process
PR_SET_CHILD_SUBREAPER = 36


def adopt_descendants() -> None:
    """Make every process this one starts, directly or not, end up as its
    child when its own parent exits: the Spark JVM, the Python worker
    daemon and its workers. ``end_descendants`` can then wait for each."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def end_descendants(grace_s: float = 20.0, term_s: float = 10.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The Spark JVM outlives ``spark.stop()``: it exits when its stdin
    closes, which otherwise happens only when this process exits. So the
    stdin is closed here, the JVM and the workers it started get
    ``grace_s`` to exit on their own, then SIGTERM, then after ``term_s``
    more SIGKILL. Orphans come back as children (``adopt_descendants``)
    and are reaped."""
    context = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    proc = getattr(getattr(context, "_gateway", None), "proc", None)
    if proc is not None and proc.stdin is not None and not proc.stdin.closed:
        try:
            proc.stdin.close()
        except OSError:
            pass
    term_at = time.time() + grace_s
    kill_at = term_at + term_s
    sent = None
    while True:
        _reap()
        kids = _children(os.getpid())
        if not kids:
            return
        now = time.time()
        sig = signal.SIGKILL if now >= kill_at else signal.SIGTERM if now >= term_at else None
        if sig is not None and sig != sent:
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _cpu_times() -> list[int]:
    """The machine's CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _jvm_pid(spark) -> int:
    """Pid of the JVM behind the session (the launcher execs into it)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            return pid
    for child in _children(pid):
        with open(f"/proc/{child}/comm") as f:
            if f.read().strip() == "java":
                return child
    raise RuntimeError("no JVM found under the Spark gateway process")


def _children(pid: int) -> list[int]:
    """Every descendant of ``pid``, ended but unreaped ones too (Linux /proc)."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process has ended meanwhile
        return out
    for task in tasks:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids = [int(c) for c in f.read().split()]
        except OSError:
            continue
        for k in kids:
            out += [k] + _children(k)
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def latency_metrics(samples: list[float]) -> tuple[dict, str]:
    """``latency_p50_s`` and ``latency_p99_s`` of a sample, and a note
    that says which tail statistic the sample supports."""
    label, value = tail(samples)
    note = f"{len(samples)} samples; latency_p99_s is the {label}"
    return {"latency_p50_s": statistics.median(samples), "latency_p99_s": value}, note


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)


def wait_for(cond, timeout: float, poll: float = 0.05) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        time.sleep(poll)
    return cond()
