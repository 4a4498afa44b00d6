"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_restart --seed 1 --seconds 10 --trace 0

Workloads: ``cdc_restart``, ``batch_headline``, ``index_churn`` (see
perfbench/README.md). With ``--trace 0`` the last stdout line is one JSON
object with the end-to-end metrics; with ``--trace 1`` Spark's event log
is on and the line carries the per-layer metrics, and the full layer
split and spans are written under ``.bench_build/perfbench/trace/``.
The exit code is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import datagen, harness  # noqa: E402

WORKLOADS = ("cdc_restart", "batch_headline", "index_churn")
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "throughput_per_s": "1/s",
             "latency_ms_p50": "ms", "latency_ms_tail": "ms"}
# per-layer metrics every workload reports (the workload-specific layer
# metrics go to the trace file and the human-readable report)
COMMON_LAYERS = {"session.start_s": "s", "trace.overhead_pct": "%",
                 "plans.build_ms_total": "ms", "spark.jobs": "count",
                 "spark.stages": "count", "spark.tasks": "count",
                 "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
                 "spark.gc_ms": "ms", "spark.sched_delay_ms": "ms",
                 "spark.shuffle_write_bytes": "bytes",
                 "spark.shuffle_read_bytes": "bytes",
                 "spark.spill_bytes": "bytes", "spark.python_rows": "count"}


class Context:
    """What a workload gets: the session, its directories, its seed and
    run length, the tracer, and the generated table directories."""

    def __init__(self, args, dirs: harness.RunDirs, cpus: int):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dirs = dirs
        self.cpus = cpus
        self.tracer = harness.Tracer(f"{args.workload}-{args.seed}",
                                     self.trace)
        data = os.path.join(harness.work_root(), "data")
        self.sf_dir = datagen.ensure_tables(
            os.path.join(data, f"sf{harness.SF_MAIN}"), harness.SF_MAIN,
            harness.TABLE_SEED)
        self.warm_dir = datagen.ensure_tables(
            os.path.join(data, f"sf{harness.SF_WARM}"), harness.SF_WARM,
            harness.TABLE_SEED)
        self.spark = None
        self.session_start_s = 0.0

    def start_spark(self) -> None:
        from flink_precisely_demo_spark.session import get_spark

        with self.tracer.span("session.start") as sp:
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   cpus=self.cpus,
                                   extra_conf=harness.spark_conf(
                                       self.dirs, self.trace))
        self.session_start_s = sp.seconds


def _program_present() -> bool:
    root = harness.ROOT
    return (os.path.isdir(os.path.join(root, "flink_precisely_demo_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py")))


def _untraced_reference(args) -> float:
    """latency_ms_p50 of an untraced run of this workload in this
    checkout: the last one recorded, or a fresh one run now."""
    path = os.path.join(harness.work_root(), "untraced",
                        f"{args.workload}.json")
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             args.workload, "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, timeout=170)
    with open(path) as f:
        return json.load(f)["latency_ms_p50"]


def main() -> int:
    """Run the workload; on every way out, end the JVM and every other
    process the run started and wait for them."""
    harness.adopt_orphans()
    try:
        return _main()
    finally:
        harness.stop_children()


def _main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not _program_present():
        print("perfbench: the package flink_precisely_demo_spark and "
              "__spark_entry__.py must sit next to perfbench/",
              file=sys.stderr)
        return 2
    os.chdir(harness.ROOT)
    reference = _untraced_reference(args) if args.trace else None

    import bench
    from perfbench import batch_headline, cdc_restart, index_churn
    module = {"cdc_restart": cdc_restart, "batch_headline": batch_headline,
              "index_churn": index_churn}[args.workload]

    cpus = harness.host_cpus()
    dirs = harness.RunDirs(args.workload)
    try:
        harness.configure_process(dirs, cpus)
        ctx = Context(args, dirs, cpus)
        steal0 = bench.cpu_steal_sample()
        t0 = time.time()
        with harness.RssSampler() as rss:
            ctx.start_spark()
            try:
                res = module.run(ctx)
            finally:
                ctx.spark.stop()
        steal = bench.steal_window_pct(steal0, bench.cpu_steal_sample())
        tail_q, tail_ms = res["latency_ms_tail"]
        e2e = {k: res[k] for k in ("setup_s", "throughput_per_s",
                                   "latency_ms_p50")}
        e2e["latency_ms_tail"] = tail_ms
        res["detail"]["latency_tail_percentile"] = round(100 * tail_q)
        e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
        layers = dict(res["layers"])
        layers["session.start_s"] = ctx.session_start_s
        host = {"nproc": cpus, "mem_mb": harness.host_mem_mb(),
                "steal_pct": steal, "run_wall_s": time.time() - t0}
        if args.trace:
            from perfbench import eventlog
            log = eventlog.event_log_file(dirs.path("eventlog"))
            layers.update(eventlog.fold_event_log(log, res["windows_ms"]))
            if "event_log_layers" in res:
                layers.update(res["event_log_layers"](log))
            layers["trace.overhead_pct"] = 100.0 * (
                res["latency_ms_p50"] - reference) / reference
            ctx.tracer.write(
                os.path.join(harness.work_root(), "trace",
                             f"{args.workload}-seed{args.seed}.json"),
                {"layers": layers, "end_to_end": e2e, "host": host,
                 "detail": res["detail"]})
        else:
            os.makedirs(os.path.join(harness.work_root(), "untraced"),
                        exist_ok=True)
            with open(os.path.join(harness.work_root(), "untraced",
                                   f"{args.workload}.json"), "w") as f:
                json.dump(e2e, f)
    finally:
        dirs.cleanup()

    correct = res["failed"] == 0
    _report(args, e2e, layers, host, res)
    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in COMMON_LAYERS.items()}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def _report(args, e2e, layers, host, res) -> None:
    """Human-readable lines ahead of the JSON line."""
    print(f"# workload {args.workload} seed {args.seed} "
          f"seconds {args.seconds} trace {args.trace}")
    print("# host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print(f"# attempted {res['attempted']} failed {res['failed']} "
          f"failed_frac {res['failed'] / res['attempted']:.6f}")
    for k, v in e2e.items():
        print(f"# e2e {k} {v:.6g} {E2E_UNITS[k]}")
    if args.trace:
        for k in sorted(layers):
            print(f"# layer {k} {layers[k]:.6g}")
    for k, v in sorted(res["detail"].items()):
        print(f"# detail {k} {v}")


if __name__ == "__main__":
    sys.exit(main())
