"""Profile headline (and named) queries: split wall time into
DataFrame-construction (driver/Python-side, eager work inside the
query function) vs execution (noop write), and count the Spark jobs
each execution launches (every job is a scheduling wave; AQE runs one
job per materialized shuffle stage).

Usage:
    python scripts/profile_queries.py                 # headline set
    python scripts/profile_queries.py name1 name2 ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.1")

from bench import HEADLINE  # noqa: E402


def main() -> None:
    names = sys.argv[1:] or HEADLINE

    from flink_precisely_demo_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("profile")
    sc = spark.sparkContext
    qs = entry_mod.queries()

    # warm the JVM the same way bench does
    warm = "/root/testdata/sf0.001"
    for w in ["flagship_cdc_window_sum", "dedup_minhash_lsh",
              "reference_pipeline_verbatim"]:
        try:
            qs[w](spark, warm).write.mode("overwrite").format("noop").save()
        except Exception as exc:
            print(f"# warm {w}: {exc}", file=sys.stderr)
    try:
        from flink_precisely_demo_spark.plans.ann_queries import ann_index_path
        ann_index_path(spark, SF)
    except Exception as exc:
        print(f"# warm ann: {exc}", file=sys.stderr)

    print(f"{'query':35s} {'constr':>7s} {'exec1':>7s} {'exec2':>7s} "
          f"{'jobs':>5s} {'stages':>6s}")
    for name in names:
        fn = qs[name]
        t0 = time.perf_counter()
        df = fn(spark, SF)
        t1 = time.perf_counter()
        tracker0 = sc._jsc.sc().dagScheduler().nextJobId()
        s0 = sc._jsc.sc().dagScheduler().nextStageId()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        j1 = sc._jsc.sc().dagScheduler().nextJobId()
        s1 = sc._jsc.sc().dagScheduler().nextStageId()
        # second execution: fresh construction, min-of-2 like bench
        df2 = fn(spark, SF)
        t3 = time.perf_counter()
        df2.write.mode("overwrite").format("noop").save()
        t4 = time.perf_counter()
        print(f"{name:35s} {t1 - t0:7.3f} {t2 - t1:7.3f} {t4 - t3:7.3f} "
              f"{j1 - tracker0:5d} {s1 - s0:6d}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
