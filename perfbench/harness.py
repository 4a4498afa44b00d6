"""Shared benchmark plumbing: host sizing, the run's private directories,
the Spark session, peak-RSS sampling, in-memory spans and quantiles.

Everything a run writes lives under ``<checkout>/.bench_build/perfbench``
(``$CARGO_TARGET_DIR/perfbench`` when that is set): cached input tables
under ``data/``, a per-run directory removed when the run ends, and the
traced run's span and layer files under ``trace/``.
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# fixed seed of the batch tables; the per-run seed drives only the
# workload's own inputs (CDC envelopes, index upserts and searches)
TABLE_SEED = 42
SF_MAIN = 0.1
SF_WARM = 0.001
DRIVER_MEMORY = "2g"


def work_root() -> str:
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def host_cpus() -> int:
    """What ``nproc`` prints (ignoring OMP_NUM_THREADS): the CPUs this
    process may run on."""
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class RunDirs:
    """The run's private directories; :meth:`cleanup` removes them."""

    def __init__(self, workload: str):
        self.root = work_root()
        self.run = os.path.join(self.root, f"run-{workload}-{os.getpid()}")
        shutil.rmtree(self.run, ignore_errors=True)
        for sub in ("tmp", "scratch", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.run, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.run, *parts)

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def configure_process(dirs: RunDirs, cpus: int) -> None:
    """Point every scratch location the program, Spark and the Python
    workers use into the run directory, before the JVM starts."""
    import tempfile

    env = os.environ
    env["TMPDIR"] = dirs.path("tmp")
    tempfile.tempdir = dirs.path("tmp")
    env["SPARK_GRAFT_SCRATCH"] = dirs.path("scratch")
    env["SPARK_LOCAL_DIRS"] = dirs.path("spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no /tmp/hsperfdata_<user> files from the launcher or the driver JVM
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the package from the checkout
    paths = [ROOT] + [p for p in env.get("PYTHONPATH", "").split(":") if p]
    env["PYTHONPATH"] = ":".join(paths)


def spark_conf(dirs: RunDirs, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs.path("warehouse"),
        # the heap starts at its maximum, so peak RSS does not depend on
        # when the collector chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={dirs.path('tmp')} "
            f"-Dderby.system.home={dirs.path('tmp')}",
        # keep every progress record of a run (default keeps 100)
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs.path("eventlog")
        # plain JSON lines, one file (Spark 4 defaults to zstd)
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    Python worker whose parent JVM exits first is re-parented here and
    :func:`stop_children` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _proc_stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, fields after it: state, ppid, ...) of
    /proc/<pid>/stat, or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    cut = stat.rfind(")")
    return stat[stat.find("(") + 1:cut], stat[cut + 2:].split()


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            stat = _proc_stat(int(name))
            if stat is not None and stat[1][1] == me:
                out.append(int(name))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(timeout_s: float = 60.0) -> None:
    """End the Spark JVM and wait until every process under this one
    has ended and been reaped.

    The JVM exits when the gateway's stdin reaches EOF; the Python
    workers exit when the JVM does. A child still running after
    ``timeout_s`` gets SIGTERM, and SIGKILL 5 s later."""
    context = sys.modules.get("pyspark.core.context") or sys.modules.get(
        "pyspark.context")
    gateway = context.SparkContext._gateway if context else None
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    deadline = time.monotonic() + timeout_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        if proc is not None and proc.poll() is not None:
            proc = None
        _reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() >= deadline:
            sig = signals.pop(0) if len(signals) > 1 else signals[0]
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


class RssSampler:
    """Peak summed RSS of the driver JVM and the Python workers under
    this process, sampled from /proc every ``period_s``; the process
    tree is re-read every ``rescan_s``."""

    def __init__(self, period_s: float = 0.25, rescan_s: float = 1.0):
        self._period = period_s
        self._rescan = rescan_s
        self._stop = threading.Event()
        self.peak_bytes = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids: list[int] = []
        next_scan = 0.0
        while not self._stop.wait(self._period):
            if time.monotonic() >= next_scan:
                pids = self._descendants(os.getpid())
                next_scan = time.monotonic() + self._rescan
            total = 0
            for pid in pids:
                stat = _proc_stat(pid)
                if stat is not None:
                    total += int(stat[1][21]) * self._page
            self.peak_bytes = max(self.peak_bytes, total)

    def _descendants(self, root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                stat = _proc_stat(int(name))
                if stat is not None:
                    comm[int(name)] = stat[0]
                    children.setdefault(int(stat[1][1]), []).append(
                        int(name))
        out, todo = [], [(c, root) for c in children.get(root, [])]
        while todo:
            pid, parent = todo.pop()
            # the driver JVM and the Python workers; not the short-lived
            # commands the JVM spawns, which share the JVM's pages until
            # they exec and would count them twice
            name = comm.get(pid, "")
            if ((name == "java" and comm.get(parent) != "java")
                    or name.startswith("python")):
                out.append(pid)
            todo.extend((c, pid) for c in children.get(pid, []))
        return out


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    when the run ends. With tracing off a span records nothing but still
    measures its own ``start``, ``end`` and ``seconds``."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def self_times_s(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s["end"] - s["start"]) - child.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times_s(), **extra},
                      f, indent=1, sort_keys=True)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self._t = tracer
        self._name = name
        self.start = 0.0
        self.end = 0.0
        self.seconds = 0.0

    def __enter__(self) -> "_Span":
        self.start = time.time()
        self._t0 = time.perf_counter()
        if self._t.enabled:
            self._idx = len(self._t.spans)
            self._t.spans.append({
                "name": self._name, "start": self.start, "end": None,
                "parent": self._t._stack[-1] if self._t._stack else None,
                "run_id": self._t.run_id})
            self._t._stack.append(self._idx)
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self._t0
        self.end = self.start + self.seconds
        if self._t.enabled:
            self._t._stack.pop()
            self._t.spans[self._idx]["end"] = self.end


def quantile(values: list[float], q: float) -> float:
    """The q-quantile (0 <= q <= 1) by linear interpolation between
    order statistics (``statistics.quantiles(method="inclusive")``)."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(q, value) for the highest of p95, p90, p75 and p50 that has at
    least ten samples beyond it; p50 when none has."""
    for q in (0.95, 0.9, 0.75):
        if (1 - q) * len(values) >= 10:
            return q, quantile(values, q)
    return 0.5, quantile(values, 0.5)
