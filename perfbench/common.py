"""Host pinning, the run directory, memory sampling and statistics
shared by the workloads."""

from __future__ import annotations

import dataclasses
import math
import os
import shutil
import statistics
import sys
import threading
import time

from layers import event_log_conf

# how often PeakMemory reads /proc
MEMORY_SAMPLE_S = 0.2
# samples a tail percentile must leave above it
TAIL_BEYOND = 10


def host_cpus() -> int:
    """What ``nproc`` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_host(root: str, run_dir: str, cpus: int) -> None:
    """Environment for the engine, set before it is imported.

    ``SPARK_GRAFT_CPUS`` would otherwise default to 32, and the driver
    heap to 16 GB; Spark's scratch space and temp files stay inside the
    run directory; the Python workers Spark starts need the repository
    on their path to unpickle the engine's UDFs.
    """
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (the launcher and the driver) keeps its
    # temp files in the run directory and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.abspath(tmp)}"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def session_conf() -> dict[str, str]:
    """Confs every workload adds to the engine's session: no console
    progress bar, and a heap fixed at its maximum from the start, so
    that the JVM's memory does not depend on when the garbage collector
    chose to grow it."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }


def restart_session(r: "Run", spark, app_name: str, event_log: bool):
    """Stop the session and start another, with or without Spark's
    event log (``run_dir/eventlog``).  The JVM, and so its compiled
    code, stays.  Returns the new session."""
    from world_vaccination_coverage_etl_spark.session import get_spark

    spark.stop()
    conf = session_conf()
    if event_log:
        conf.update(event_log_conf(r.path("eventlog")))
    return get_spark(app_name, extra_conf=conf)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it are fixed
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakMemory:
    """High-water memory of this process and all its descendants,
    sampled from /proc on a background thread.  Proportional set size
    (PSS) is summed, so pages that forked Python workers share with
    their parent are counted once, not once per worker."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in _tree_pids(pid)))
            self._stop.wait(MEMORY_SAMPLE_S)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(n: int) -> int:
    """Highest whole percentile (as ``percentile`` interpolates) with at
    least ``TAIL_BEYOND`` of ``n`` samples above it, and never below the
    median: a run with few samples cannot support a tail above it."""
    if n <= 1:
        return 50
    return max(50, math.floor(100 * (n - 1 - TAIL_BEYOND) / (n - 1)))


def percentile(values: list[float], pct: float) -> float:
    """Linearly interpolated percentile (p50 is the median); ``inf``
    entries stand for failures."""
    ordered = sorted(values)
    pos = pct / 100 * (len(ordered) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    if ordered[hi] == math.inf:
        return math.inf
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Clock:
    """Deadline for the measured part of a run."""

    def __init__(self, seconds: float):
        self.start = time.perf_counter()
        self.seconds = seconds

    def elapsed(self) -> float:
        return time.perf_counter() - self.start

    def expired(self) -> bool:
        return self.elapsed() >= self.seconds


@dataclasses.dataclass
class Run:
    """One benchmark run: its inputs and what it reports."""

    root: str
    run_dir: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    t_start: float
    attempted: int = 0
    failed: int = 0
    metrics: dict = dataclasses.field(default_factory=dict)
    info: dict = dataclasses.field(default_factory=dict)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] failed: {what}", file=sys.stderr, flush=True)
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)
