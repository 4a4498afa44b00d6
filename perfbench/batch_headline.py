"""Workload ``batch_headline``: the 20 headline queries of ``bench.py``
at sf0.1, one at a time (closed loop), each into the noop sink.

Set-up, three times: build the served ANN index the ``ann_index_topk``
query reads (``plans.ann_queries.ann_index_path``, rebuilt from scratch
each time); ``setup_s`` is the median. An untimed warm-up then runs the
three queries ``bench.py`` warms, on the small tables. The timed loop
makes whole passes over the 20 queries until ``--seconds`` have been
measured (one pass takes longer than the configured run length on a
4-CPU host, so a run is one pass). Each query's DataFrame is built
(``plans.build``) and executed; a query's latency is both.
``throughput_per_s`` is queries per second of the loop (20 / the
headline total for one pass).

After the timed pass, ``CHECKS_PER_RUN`` queries are compared with their
DuckDB twins from ``__spark_entry__.oracle_sql()`` by
``tests/oracle_check.compare``; the checked queries rotate with the seed,
so any seven consecutive seeds check all 20. The tables are fixed (the
seed does not change them).
"""

from __future__ import annotations

import shutil

from .harness import median, quantile, tail_percentile

SETUP_REPS = 3
CHECKS_PER_RUN = 3
WARM_QUERIES = ("flagship_cdc_window_sum", "dedup_minhash_lsh",
                "reference_pipeline_verbatim")


def checked_queries(headline: list[str], seed: int) -> list[str]:
    n = len(headline)
    blocks = -(-n // CHECKS_PER_RUN)
    first = CHECKS_PER_RUN * (seed % blocks)
    return [headline[(first + j) % n] for j in range(CHECKS_PER_RUN)]


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from bench import HEADLINE
    from flink_precisely_demo_spark.plans.ann_queries import ann_index_path
    from tests.oracle_check import compare, duckdb_con

    spark, tracer = ctx.spark, ctx.tracer
    qs, oracles = entry.queries(), entry.oracle_sql()

    setup_times = []
    for rep in range(SETUP_REPS):
        with tracer.span("setup") as sp:
            path = ann_index_path(spark, ctx.sf_dir)
        setup_times.append(sp.seconds)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(path)
    with tracer.span("warmup"):
        for name in WARM_QUERIES:
            qs[name](spark, ctx.warm_dir).write.mode("overwrite") \
                .format("noop").save()

    times: dict[str, list[float]] = {n: [] for n in HEADLINE}
    build_s = 0.0
    errors: dict[str, str] = {}
    with tracer.span("measure") as measure:
        busy = 0.0
        while busy < ctx.seconds:
            for name in HEADLINE:
                if name in errors:
                    continue
                try:
                    with tracer.span(f"headline.{name}") as q:
                        with tracer.span("plans.build") as b:
                            df = qs[name](spark, ctx.sf_dir)
                        with tracer.span("execute"):
                            df.write.mode("overwrite").format("noop").save()
                except Exception as exc:  # one broken query, one failure
                    errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                    continue
                times[name].append(q.seconds)
                build_s += b.seconds
                busy += q.seconds
            if len(errors) == len(HEADLINE):
                raise RuntimeError(f"every headline query failed: {errors}")

    con = duckdb_con(ctx.sf_dir)
    checked = checked_queries(HEADLINE, ctx.seed)
    with tracer.span("check"):
        for name in checked:
            if name in errors:
                continue
            problems = compare(qs[name](spark, ctx.sf_dir), con,
                               oracles[name])
            if problems:
                errors[name] = "; ".join(problems)[:300]
    con.close()

    lat_ms = [1000.0 * t for ts in times.values() for t in ts]
    passes = max(len(ts) for ts in times.values())
    layers = {f"headline.{n}_s": median(ts) for n, ts in times.items() if ts}
    layers["plans.build_ms_total"] = 1000.0 * build_s
    return {
        "attempted": len(HEADLINE) * passes,
        "failed": len(errors),
        "setup_s": median(setup_times),
        "throughput_per_s": len(lat_ms) / busy,
        "latency_ms_p50": quantile(lat_ms, 0.5),
        "latency_ms_tail": tail_percentile(lat_ms),
        "windows_ms": [(measure.start * 1000, measure.end * 1000)],
        "layers": layers,
        "detail": {"headline_total_s": busy / passes, "passes": passes,
                   "checked": checked,
                   "errors": errors, "setup_runs_s": setup_times},
    }
