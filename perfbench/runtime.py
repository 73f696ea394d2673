"""Process-level plumbing shared by the workloads: the benchmark context,
session start/stop, process-tree memory and JVM shutdown."""

from __future__ import annotations

import os
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.check import Gate
from perfbench.tracing import Tracer

# Sized for a 4-core host: one driver process, Spark local[4].
CPUS = 4
DRIVER_MEM = "2g"
SETUP_ROUNDS = 3


@dataclass
class Context:
    work: str  # per-run scratch directory inside the checkout
    seed: int
    seconds: float
    tracer: Tracer
    gate: Gate = field(default_factory=Gate)
    rss_peak_mb: float = 0.0
    setup_s: list[float] = field(default_factory=list)  # CPU seconds per setup round
    setup_wall_s: list[float] = field(default_factory=list)
    probe_s: list[float] = field(default_factory=list)
    phases_s: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        """Accumulate wall time under `name` in the run report."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases_s[name] = self.phases_s.get(name, 0.0) + time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def probe(self) -> None:
        self.probe_s.append(probe_cpu_s())

    def sample_rss(self) -> None:
        self.rss_peak_mb = max(self.rss_peak_mb, tree_rss_mb())


def configure_environment(root: str, work: str) -> None:
    """Environment the session, the JVM and the Python workers inherit.
    Must run before the first session starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers unpickle functions of the package by import path
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads".strip()


def start_session(ctx: Context):
    from orionld_to_hive_spark import session

    with ctx.tracer.span("session.get_spark"):
        spark = session.get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": ctx.path("spark-warehouse"),
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(ctx: Context, setup_once) -> object:
    """Run `setup_once(spark)` on SETUP_ROUNDS fresh sessions (the first
    also starts the JVM); record each round's CPU time (`tree_cpu_s`) in
    ctx.setup_s and its wall time in ctx.setup_wall_s, and return the
    last session. Stopping the previous session is not part of a round."""
    spark = None
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        ctx.probe()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        spark = start_session(ctx)
        setup_once(spark)
        ctx.setup_wall_s.append(time.perf_counter() - t0)
        ctx.setup_s.append(tree_cpu_s() - c0)
        ctx.sample_rss()
    return spark


def shutdown() -> None:
    """Stop the active session and the JVM it runs in, and wait for the
    JVM to exit (it stops its Python workers first)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat:
    steal is time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


PROBE_ITERS = 300_000
# Probe CPU time of the reference speed, about that of a 4-vCPU x86-64
# virtual machine. CPU time for the same work grows when the host is busy
# (lower clock, shared caches), so mix_cpu_s is scaled by
# PROBE_REF_S / (the run's median probe time): CPU seconds at reference speed.
PROBE_REF_S = 0.025


def probe_cpu_s() -> float:
    """CPU time of a fixed single-threaded loop: how fast this host runs
    the same instructions right now."""
    t0 = time.process_time()
    x = 0
    for i in range(PROBE_ITERS):
        x += i * i
    return time.process_time() - t0


def _tree_pids() -> list[int]:
    """This process and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(entry))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss_mb() -> float:
    """Resident memory of the process tree, in MiB."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
# The JVM's JIT compiler threads: started with the JVM and kept for its
# life (-XX:-UseDynamicNumberOfCompilerThreads), so each is looked up once.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_jit_tids: dict[int, list[int]] = {}


def _ticks(stat_path: str, n: int) -> int:
    """Sum of the first `n` of utime, stime, cutime, cstime in a stat file."""
    with open(stat_path) as f:
        stat = f.read()
    return sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11 : 11 + n])


def _jit_threads(pid: int) -> list[int]:
    if pid not in _jit_tids:
        tids = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().strip() in _JIT_THREADS:
                    tids.append(int(tid))
        _jit_tids[pid] = tids
    return _jit_tids[pid]


def tree_cpu_s() -> float:
    """CPU time (user + system) the process tree has used so far, reaped
    children included, less the time of the JVM's JIT compiler threads.

    Time the hypervisor gave to other guests (steal) is not in it, so it
    does not grow when the host is oversubscribed; JIT compilation, which
    goes on in the background for tens of seconds after the code paths
    are first run, would otherwise be the largest part of it."""
    ticks = 0
    for pid in _tree_pids():
        try:
            ticks += _ticks(f"/proc/{pid}/stat", 4)
            for tid in _jit_threads(pid):
                ticks -= _ticks(f"/proc/{pid}/task/{tid}/stat", 2)
        except OSError:  # the process exited meanwhile
            continue
    return ticks * _TICK_S
