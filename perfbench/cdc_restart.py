"""Workload ``cdc_restart``: the reference CDC job restarted on a backlog,
then tailing a live feed.

The job is ``streaming.pipeline.streaming_flagship`` (decode envelope ->
``parse_ts`` -> enrich with the customer/nation dims -> 10-minute
watermark -> tumbling ``SUM(TotalDue)``), run with the program's default
trigger into an append-mode JSON file sink (the reference's sink format)
with a checkpoint.

1. Set-up, three times: a fresh checkpoint brings the job up on the first
   ``INIT_FILES`` feed files (``availableNow``) and stops. ``setup_s`` is
   the median; the last checkpoint is the one restarted.
2. While the job is down, the seeded generator writes a retained backlog
   of ``BACKLOG_FILES`` files.
3. Restart from the checkpoint. Catch-up ends when the micro-batch that
   holds the last backlog file commits: ``throughput_per_s`` is backlog
   orders per second of catch-up.
4. Tail: one generator thread writes ``TAIL_FILES_PER_S`` files a second
   (open loop, atomic tmp+rename) for ``TAIL_WARMUP_S`` + ``--seconds``.
   Each file after the warm-up has a latency from its scheduled write
   time to the commit of the micro-batch that read it (file -> batch
   from the checkpoint's ``sources/0`` and ``offsets`` logs, batch end
   from the ``commits/<id>`` file's mtime).
5. After the last file commits and the watermark reaches its final value,
   the emitted windows must equal the oracle's closed windows exactly.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

import pyarrow.parquet as pq

from . import cdcgen
from .eventlog import fold_progress
from .harness import median, quantile, tail_percentile

INIT_FILES = 4
INIT_ORDERS_PER_FILE = 250
BACKLOG_FILES = 60
BACKLOG_ORDERS_PER_FILE = 1000
TAIL_FILES_PER_S = 20
TAIL_ORDERS_PER_FILE = 25
# tail files written before the measured ones, so the per-trigger path
# is past JIT warm-up when latencies are taken
TAIL_WARMUP_S = 10
SETUP_REPS = 3
POLL_S = 0.05
DRAIN_TIMEOUT_S = 30


class _Checkpoint:
    """Reads the streaming checkpoint: which micro-batch read each feed
    file and when each micro-batch committed.

    The file source logs files under its own log ids
    (``sources/0/<logId>``); the query's ``offsets/<batchId>`` WAL records
    the source log id each batch read up to, so a file belongs to the
    first batch whose offset reaches its log id."""

    def __init__(self, path: str):
        self.path = path
        self.commit_time: dict[int, float] = {}
        self._file_log: dict[str, int] = {}
        self._batch_offset: dict[int, int] = {}
        self._seen: set[str] = set()

    def _logs(self, sub: str):
        """(name, lines) of each complete log file in ``sub`` not read
        yet (a file whose last line is not complete JSON is being
        written and is read on a later refresh)."""
        d = os.path.join(self.path, sub)
        if not os.path.isdir(d):
            return
        for name in os.listdir(d):
            key = f"{sub}/{name}"
            if name.startswith(".") or key in self._seen:
                continue
            with open(os.path.join(d, name)) as f:
                lines = f.read().splitlines()
            if not lines or not lines[-1].endswith("}"):
                continue
            self._seen.add(key)
            yield name, lines

    def refresh(self) -> None:
        commits = os.path.join(self.path, "commits")
        if os.path.isdir(commits):
            for name in os.listdir(commits):
                if name.isdigit() and int(name) not in self.commit_time:
                    self.commit_time[int(name)] = os.stat(
                        os.path.join(commits, name)).st_mtime
        for name, lines in self._logs("offsets"):
            if name.isdigit():
                self._batch_offset[int(name)] = json.loads(
                    lines[-1])["logOffset"]
        for _, lines in self._logs("sources/0"):
            for line in lines[1:]:
                entry = json.loads(line)
                self._file_log[os.path.basename(entry["path"])] = \
                    entry["batchId"]

    def batch_of(self, file_name: str) -> int | None:
        log_id = self._file_log.get(file_name)
        if log_id is None:
            return None
        batches = [b for b, off in self._batch_offset.items()
                   if off >= log_id]
        return min(batches) if batches else None

    def committed_at(self, file_name: str) -> float | None:
        batch = self.batch_of(file_name)
        return None if batch is None else self.commit_time.get(batch)


def _write_file(feed: str, name: str, orders) -> None:
    tmp = os.path.join(feed, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(o.envelope() for o in orders))
        f.write("\n")
    os.rename(tmp, os.path.join(feed, name))


def _dims(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.sources.cdc_json import fold_key
    from flink_precisely_demo_spark.sources.parquet import load_table

    address = load_table(spark, sf_dir, "customer").select(
        fold_key(F.col("c_custkey")).alias("AddressID"),
        F.col("c_nationkey").alias("StateProvinceID"))
    states = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("StateProvinceID"),
        F.lit("XX").alias("CountryRegionCode"),
        F.col("n_name").alias("Name"))
    return address, states


def _start(ctx, feed: str, ckpt: str, sink: str, available_now: bool,
           build_s: list[float]):
    """Start the job from checkpoint ``ckpt``, writing JSON to ``sink``;
    appends the time to build its DataFrame to ``build_s``."""
    from flink_precisely_demo_spark.streaming.pipeline import (
        streaming_flagship,
    )

    spark = ctx.spark
    with ctx.tracer.span("plans.build") as sp:
        address, states = _dims(spark, ctx.sf_dir)
        out = streaming_flagship(spark, feed, address, states)
    build_s.append(sp.seconds)
    w = (out.writeStream.outputMode("append").format("json")
         .option("path", sink).option("checkpointLocation", ckpt))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _emitted(spark, sink: str) -> dict[tuple[int, str], float]:
    """(window start in epoch microseconds, state) -> TotalDue, from
    the rows the file sink committed."""
    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.schemas import OUTPUT_SCHEMA

    out: dict[tuple[int, str], float] = {}
    rows = (spark.read.schema(OUTPUT_SCHEMA).json(sink)
            .select(F.unix_micros("OrderPeriod").alias("us"), "State",
                    "TotalDue").collect())
    for r in rows:
        key = (r.us, r.State)
        # a window emitted twice is as wrong as a wrong sum
        out[key] = float("nan") if key in out else r.TotalDue
    return out


def run(ctx) -> dict:
    cust = pq.read_table(os.path.join(ctx.sf_dir, "customer.parquet"),
                         columns=["c_custkey", "c_nationkey"]).to_pydict()
    nat = pq.read_table(os.path.join(ctx.sf_dir, "nation.parquet"),
                        columns=["n_nationkey", "n_name"]).to_pydict()
    nation_of = {cdcgen.fold_key(k): n for k, n in
                 zip(cust["c_custkey"], cust["c_nationkey"])}
    state_name = dict(zip(nat["n_nationkey"], nat["n_name"]))
    feed_gen = cdcgen.OrderFeed(ctx.seed, cust["c_custkey"])
    feed = ctx.dirs.path("feed")
    os.makedirs(feed)
    all_orders = []

    def write(name: str, n: int) -> None:
        orders = feed_gen.take(n)
        all_orders.extend(orders)
        _write_file(feed, name, orders)

    for i in range(INIT_FILES):
        write(f"init-{i:03d}.json", INIT_ORDERS_PER_FILE)

    # 1. set-up: bring the job up on the initial files, three times
    setup_times: list[float] = []
    build_s: list[float] = []
    for rep in range(SETUP_REPS):
        with ctx.tracer.span("setup") as sp:
            q = _start(ctx, feed, ctx.dirs.path(f"ckpt{rep}"),
                       ctx.dirs.path(f"out{rep}"), available_now=True,
                       build_s=build_s)
            q.awaitTermination()
        setup_times.append(sp.seconds)
    sink = ctx.dirs.path(f"out{SETUP_REPS - 1}")
    ckpt = _Checkpoint(ctx.dirs.path(f"ckpt{SETUP_REPS - 1}"))

    # 2. the backlog that piled up while the job was down, and the tail
    # files, rendered ahead so the generator thread only writes
    for i in range(BACKLOG_FILES):
        write(f"backlog-{i:03d}.json", BACKLOG_ORDERS_PER_FILE)
    last_backlog = f"backlog-{BACKLOG_FILES - 1:03d}.json"
    n_warm = TAIL_WARMUP_S * TAIL_FILES_PER_S
    n_tail = n_warm + max(1, int(ctx.seconds * TAIL_FILES_PER_S))
    tail = []
    for j in range(n_tail):
        orders = feed_gen.take(TAIL_ORDERS_PER_FILE)
        all_orders.extend(orders)
        tail.append((f"tail-{j:05d}.json",
                     "\n".join(o.envelope() for o in orders) + "\n"))

    # 3. restart and catch up
    with ctx.tracer.span("measure"):
        t_start = time.time()
        with ctx.tracer.span("stream.catchup"):
            q = _start(ctx, feed, ckpt.path, sink, available_now=False,
                       build_s=build_s)
            while ckpt.committed_at(last_backlog) is None:
                if q.exception() is not None:
                    raise RuntimeError(f"query failed: {q.exception()}")
                time.sleep(POLL_S)
                ckpt.refresh()
        catchup_s = ckpt.committed_at(last_backlog) - t_start

        # 4. tail: open-loop writes on a fixed schedule
        interval = 1.0 / TAIL_FILES_PER_S
        t_tail = time.time() + 0.2
        written: dict[str, float] = {}

        def generator() -> None:
            for j, (name, body) in enumerate(tail):
                due = t_tail + j * interval
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                tmp = os.path.join(feed, f".{name}.tmp")
                with open(tmp, "w") as f:
                    f.write(body)
                os.rename(tmp, os.path.join(feed, name))
                written[name] = time.time()

        gen = threading.Thread(target=generator, name="cdc-tail")
        with ctx.tracer.span("stream.tail"):
            gen.start()
            try:
                # files commit in write order, so the last one is enough
                deadline = t_tail + n_tail * interval + DRAIN_TIMEOUT_S
                last_tail = tail[-1][0]
                while (time.time() < deadline and q.exception() is None
                       and ckpt.committed_at(last_tail) is None):
                    time.sleep(POLL_S)
                    ckpt.refresh()
            finally:
                gen.join()
        t_measure_end = time.time()

    # 5. let the watermark reach its final value, then check the windows
    final_wm = cdcgen.final_watermark_us(all_orders, nation_of)
    wm_reached = False
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline and q.exception() is None:
        last = q.lastProgress
        wm = last["eventTime"].get("watermark") if last else None
        status = q.status
        if (wm and _iso_us(wm) >= final_wm
                and not status["isTriggerActive"]):
            wm_reached = True
            break
        time.sleep(POLL_S)
    progress = [json.loads(p.json) if hasattr(p, "json") else p
                for p in q.recentProgress]
    q.stop()
    ckpt.refresh()

    expected = cdcgen.closed(
        cdcgen.expected_windows(all_orders, nation_of, state_name),
        final_wm)
    got = _emitted(ctx.spark, sink)
    wrong = sum(1 for k, v in expected.items()
                if got.get(k) != float(v)) + sum(
        1 for k in got if k not in expected)
    layers = fold_progress(progress)
    dropped = int(layers.get("state.rows_dropped_by_watermark", 0))
    latencies = []
    lost = 0
    for j, (name, _) in enumerate(tail):
        done = ckpt.committed_at(name)
        if done is None:
            lost += 1
        elif j >= n_warm:
            latencies.append(1000.0 * (done - (t_tail + j * interval)))
    if not latencies:
        raise RuntimeError("no tail file was ever committed")

    layers.update(_tail_layers(ckpt, progress, tail, written, t_tail,
                               interval, last_backlog))
    if ctx.trace:
        layers["sources.decode_rows_per_s"] = _decode_rate(ctx, feed)
    layers["plans.build_ms_total"] = 1000.0 * sum(build_s)
    n_backlog = BACKLOG_FILES * BACKLOG_ORDERS_PER_FILE
    return {
        "attempted": len(expected) + n_tail,
        "failed": wrong + lost + dropped + (not wm_reached),
        "setup_s": median(setup_times),
        "throughput_per_s": n_backlog / catchup_s,
        "latency_ms_p50": quantile(latencies, 0.5),
        "latency_ms_tail": tail_percentile(latencies),
        "windows_ms": [(t_start * 1000, t_measure_end * 1000)],
        "layers": layers,
        "detail": {"backlog_orders": n_backlog, "catchup_s": catchup_s,
                   "trigger_ms": [p["durationMs"]["triggerExecution"]
                                  for p in progress
                                  if "addBatch" in p["durationMs"]],
                   "tail_files": n_tail, "tail_lost": lost,
                   "windows_expected": len(expected),
                   "windows_wrong": wrong, "watermark_reached": wm_reached,
                   "setup_runs_s": setup_times},
    }


def _iso_us(ts: str) -> int:
    """'2024-03-01T10:20:00.000Z' -> epoch microseconds."""
    d = dt.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _tail_layers(ckpt: _Checkpoint, progress: list[dict], tail, written,
                 t_tail: float, interval: float, last_backlog: str
                 ) -> dict[str, float]:
    """Catch-up trigger time, the most files waiting at any batch start,
    and how late the generator ran."""
    catchup_batch = ckpt.batch_of(last_backlog)
    trig = [p["durationMs"]["triggerExecution"] for p in progress
            if p["batchId"] == catchup_batch and "addBatch" in p["durationMs"]]
    batch_of = {name: ckpt.batch_of(name) for name, _ in tail}
    backlog_max = 0
    for p in progress:
        if "addBatch" not in p["durationMs"]:
            continue
        start = _iso_us(p["timestamp"]) / 1e6
        waiting = sum(1 for name, _ in tail
                      if written.get(name, float("inf")) < start
                      and (batch_of[name] is None
                           or batch_of[name] >= p["batchId"]))
        backlog_max = max(backlog_max, waiting)
    lag = max((written[n] - (t_tail + j * interval)
               for j, (n, _) in enumerate(tail) if n in written),
              default=0.0)
    return {"stream.catchup_trigger_ms": float(trig[0]) if trig else 0.0,
            "stream.backlog_files_max": float(backlog_max),
            "gen.lag_ms_max": 1000.0 * lag}


def _decode_rate(ctx, feed: str) -> float:
    """Rows per second of a batch decode + ``parse_ts`` pass over every
    feed file (traced run only)."""
    from flink_precisely_demo_spark.functions.datetime_fns import parse_ts
    from flink_precisely_demo_spark.schemas import ORDERS_PAYLOAD
    from flink_precisely_demo_spark.sources.cdc_json import decode_envelope

    spark = ctx.spark
    raw = spark.read.text(feed)
    rows = raw.count()
    with ctx.tracer.span("sources.decode") as sp:
        (decode_envelope(raw, ORDERS_PAYLOAD)
         .select("after_image.TotalDue", parse_ts("sv_op_timestamp"))
         .write.mode("overwrite").format("noop").save())
    return rows / sp.seconds
