"""Shared pieces of the benchmark: the per-run context, latency
recording, the process-tree RSS sampler, the run environment record and
the Spark session factory used by every workload."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# A percentile is reported only when at least this many samples lie
# beyond it (10 beyond p90 means 100 samples).
TAIL_SAMPLES = 10


@dataclass
class Context:
    """What one benchmark invocation was asked to do, and where."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    max_ops: int | None
    work: str  # per-run directory inside the checkout, removed at exit
    data: str  # generated fixture tables (parquet)
    gen_s: float = 0.0  # time spent generating them (not set-up)

    def deadline_reached(self, t0: float, n_ops: int) -> bool:
        if self.max_ops is not None and n_ops >= self.max_ops:
            return True
        return time.perf_counter() - t0 >= self.seconds


@dataclass
class Recorder:
    """Closed-loop latency samples per operation class, plus failures.

    A failed operation (error or wrong result) counts as attempted and
    failed, and it has no latency sample, so it misses every percentile.
    """

    latencies: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def ok(self, cls: str, seconds: float) -> None:
        self.attempted += 1
        self.latencies.setdefault(cls, []).append(seconds)

    def fail(self, cls: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{cls}: {why}"[:300])

    def wrong(self, cls: str, why: str) -> None:
        """An operation that completed (and was timed) but returned a
        wrong result, found by the check after the timed region."""
        self.failed += 1
        self.failures.append(f"{cls}: wrong result: {why}"[:300])

    def samples(self, classes: list[str]) -> list[float]:
        return [x for c in classes for x in self.latencies.get(c, [])]


def percentiles(xs: list[float]) -> dict[str, float | int]:
    """Median, plus p90/p99 where enough samples lie beyond them."""
    out: dict[str, float | int] = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = statistics.median(xs)
    s = sorted(xs)
    for q, name in ((0.9, "p90"), (0.99, "p99")):
        if len(s) * (1 - q) >= TAIL_SAMPLES:
            out[name] = s[min(len(s) - 1, int(q * len(s)))]
    return out


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    setup_s: float
    timed_wall_s: float
    cpu_s: float  # CPU seconds of the program's processes in the timed region
    recorder: Recorder
    read_classes: list[str]
    peak_rss_mb: float
    env: dict
    detail: dict = field(default_factory=dict)
    tracer: object | None = None  # tracing.Tracer in the traced run
    write_classes: list[str] = field(default_factory=list)


def process_age() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 is the parent pid; the command name may hold spaces
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    return sum(_rss_bytes(pid) for pid in [root, *descendants(root)])


def _cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid``, its reaped children included."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields 14-17 of stat: utime, stime, cutime, cstime
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants."""
    return sum(_cpu_s(pid) for pid in [root, *descendants(root)])


def _steal_ticks() -> tuple[int, int]:
    """(stolen, busy + stolen) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


class HostMeter:
    """CPU seconds that the process tree under ``root`` (the program)
    uses in a timed region, and the share of the CPU time the machine's
    processes asked for that went to other guests of the host instead
    (steal). A run with a high steal share ran on a loaded host."""

    def __init__(self, root: int):
        self.root = root
        self.cpu0 = tree_cpu_s(root)
        self.steal0 = _steal_ticks()

    def stop(self) -> tuple[float, float]:
        """(CPU seconds, steal share) since the meter was made."""
        cpu = tree_cpu_s(self.root) - self.cpu0
        steal, demand = (b - a for a, b in zip(self.steal0, _steal_ticks()))
        return cpu, steal / max(1, demand)


def descendants(root: int) -> list[int]:
    """Process ids of every descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly
    or not. A descendant whose parent ends (a Python worker of a Spark
    JVM that exits first) is then re-parented here instead of to init,
    so ``stop_descendants`` still finds it and waits for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children_left() -> bool:
    """Collect every ended child; return whether any child remains."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_descendants(grace: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The Spark gateway JVM exits by itself once its stdin pipe closes,
    taking its Python workers with it; whatever is still running after
    ``grace`` seconds gets SIGTERM, and after 10 more seconds SIGKILL.
    With ``adopt_orphans`` in effect, no child left means no descendant
    left."""
    import signal

    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    for sig, wait_s in ((None, grace), (signal.SIGTERM, 10.0),
                        (signal.SIGKILL, 30.0)):
        if sig is not None:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + wait_s
        while _children_left():
            if time.monotonic() >= end:
                break
            time.sleep(0.05)
        else:
            return
    raise RuntimeError(f"processes still running: {descendants(os.getpid())}")


class RssSampler:
    """Polls the resident size of a process tree and keeps the peak: the
    Spark driver JVM, its Python workers and the process hosting them."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak / 2**20


def spark_conf(work: str) -> dict[str, str]:
    """Extra Spark settings that keep every file the session writes
    inside the run's own directory and silence the console progress
    bar. The engine's own settings (session.get_spark) are untouched."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(work: str, app: str):
    """Start the engine's SparkSession (sparrow_spark.session.get_spark)
    with its temporary files kept under ``work``."""
    from sparrow_spark.session import get_spark

    spark = get_spark(app, extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibrate(spark) -> float:
    """Load sentinel: wall time of a fixed CPU-bound 32-task job (no
    shuffle, no I/O). Its cost does not depend on the program, so a
    drift between runs measures load on the machine."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 32 * 1_000_000, 1, 32).select(
        F.sum((F.col("id") % 1_000_003) * 2 + 1)
    ).collect()
    return time.perf_counter() - t0


def java_version() -> str:
    """JAVA_VERSION from the JDK's ``release`` file: starting a JVM to ask
    would cost each run seconds on a loaded host."""
    java = shutil.which("java")
    if java is None:
        return ""
    release = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))), "release")
    try:
        with open(release) as f:
            for line in f:
                if line.startswith("JAVA_VERSION="):
                    return line.split("=", 1)[1].strip().strip('"')
    except OSError:
        pass
    return ""


def environment() -> dict:
    """Run-environment fields recorded with every result (not metrics)."""
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
    }


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)
