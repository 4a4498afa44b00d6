"""Fold Spark's own records into per-layer metrics.

- :func:`fold_event_log` reads a Spark event log (JSON lines, written when
  ``spark.eventLog.enabled`` is set) and sums task and stage records into
  the ``spark.*`` metrics, keeping only tasks launched inside the given
  time windows (the workload's measured phase).
- :func:`fold_progress` reads ``StreamingQueryProgress`` records (as the
  dicts ``StreamingQuery.recentProgress`` returns) into the ``stream.*``
  and ``state.*`` metrics.
"""

from __future__ import annotations

import json
import os

from .harness import quantile

_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.sched_delay_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.python_rows")


def event_log_file(log_dir: str) -> str:
    """The one application log in ``log_dir`` (a run logs one
    application, uncompressed and not rolled)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {names}")
    return os.path.join(log_dir, names[0])


def _events(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def _inside(t_ms: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


def fold_event_log(path: str,
                   windows_ms: list[tuple[float, float]] | None = None
                   ) -> dict[str, float]:
    """Sum the event log into ``SPARK_METRICS``. A job or stage counts
    when it was submitted inside a window; a task when it was launched
    inside one. ``windows_ms=None`` keeps everything."""
    keep = (lambda t: True) if windows_ms is None else (
        lambda t: t is not None and _inside(t, windows_ms))
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    python_rows: set[int] = set()
    for ev in _events(path):
        kind = ev.get("Event")
        if kind in _SQL_PLAN_EVENTS:
            _python_row_accumulators(ev["sparkPlanInfo"], python_rows)
        elif kind == "SparkListenerJobStart":
            if keep(ev.get("Submission Time")):
                out["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            if keep(ev["Stage Info"].get("Submission Time")):
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if keep(info.get("Launch Time")):
                _fold_task(out, info, ev.get("Task Metrics") or {},
                           python_rows)
    return out


def _python_row_accumulators(node: dict, acc: set[int]) -> None:
    """Add the accumulator ids of the output-row metric of every
    Python-worker exec (ArrowEvalPython, MapInPandas, ...) in a SQL
    plan tree to ``acc``: the rows that came back from Python workers."""
    name = node.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "InArrow" in name:
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                acc.add(m["accumulatorId"])
    for child in node.get("children", []):
        _python_row_accumulators(child, acc)


def _fold_task(out: dict[str, float], info: dict, m: dict,
               python_rows: set[int]) -> None:
    out["spark.tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    out["spark.executor_run_ms"] += run_ms
    out["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    out["spark.gc_ms"] += m.get("JVM GC Time", 0)
    # the Spark UI's scheduler delay: task wall time not spent
    # deserializing, running, serializing the result or fetching it
    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    fetch = 0
    if info.get("Getting Result Time", 0):
        fetch = info["Finish Time"] - info["Getting Result Time"]
    out["spark.sched_delay_ms"] += max(
        0, wall - run_ms - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0) - fetch)
    sw = m.get("Shuffle Write Metrics") or {}
    out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    out["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
    out["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    for acc in info.get("Accumulables") or []:
        if acc.get("ID") in python_rows:
            out["spark.python_rows"] += float(acc.get("Update") or 0)


def task_windows_count(path: str,
                       windows_ms: list[tuple[float, float]]) -> list[int]:
    """Tasks launched inside each window, one count per window."""
    counts = [0] * len(windows_ms)
    for ev in _events(path):
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        t = ev["Task Info"].get("Launch Time")
        for i, (a, b) in enumerate(windows_ms):
            if a <= t <= b:
                counts[i] += 1
    return counts


_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit",
           "commitOffsets")
_PHASE_METRIC = {"latestOffset": "stream.latest_offset_ms_p50",
                 "queryPlanning": "stream.query_planning_ms_p50",
                 "addBatch": "stream.add_batch_ms_p50",
                 "walCommit": "stream.wal_commit_ms_p50",
                 "commitOffsets": "stream.commit_offsets_ms_p50"}


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """``stream.*`` and ``state.*`` metrics over the progress records of
    the micro-batches that ran (an idle poll's record has no
    ``addBatch`` phase and is skipped). Medians are over batches."""
    batches = [p for p in progress if "addBatch" in p["durationMs"]]
    out: dict[str, float] = {"stream.triggers": float(len(batches))}
    if not batches:
        return out
    med = lambda xs: quantile(xs, 0.5) if xs else 0.0  # noqa: E731
    out["stream.rows_per_trigger_p50"] = med(
        [p["numInputRows"] for p in batches])
    out["stream.trigger_ms_p50"] = med(
        [p["durationMs"]["triggerExecution"] for p in batches])
    for phase in _PHASES:
        out[_PHASE_METRIC[phase]] = med(
            [p["durationMs"].get(phase, 0) for p in batches])
    ops = [p["stateOperators"][0] for p in batches if p["stateOperators"]]
    out["state.commit_ms_p50"] = med([o["commitTimeMs"] for o in ops])
    out["state.rows_total_max"] = float(
        max((o["numRowsTotal"] for o in ops), default=0))
    out["state.memory_bytes_max"] = float(
        max((o["memoryUsedBytes"] for o in ops), default=0))
    out["state.rows_dropped_by_watermark"] = float(
        sum(o.get("numRowsDroppedByWatermark", 0) for o in ops))
    return out
