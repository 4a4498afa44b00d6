"""The event-log and progress folders, pinned against hand-written
records and against an event log generated locally at sf0.001."""

from __future__ import annotations

import json

from perfbench import datagen, eventlog


def _task(stage: int, launch: int, finish: int, run_ms: int, acc=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0,
                          "Accumulables": [{"ID": i, "Update": u}
                                           for i, u in acc]},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": 2_000_000,
                             "Executor Deserialize Time": 3,
                             "Result Serialization Time": 1,
                             "JVM GC Time": 4,
                             "Memory Bytes Spilled": 5,
                             "Disk Bytes Spilled": 6,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": 100},
                             "Shuffle Read Metrics": {
                                 "Remote Bytes Read": 10,
                                 "Local Bytes Read": 20}}}


def test_fold_hand_written_log(tmp_path):
    plan = {"nodeName": "Project", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [],
         "metrics": [{"name": "number of output rows",
                      "accumulatorId": 77}]}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Submission Time": 1000},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Submission Time": 1001}},
        _task(0, 1010, 1050, 30, acc=[(77, 12), (78, 999)]),
        _task(0, 1020, 1030, 10),
        # outside the window: ignored
        {"Event": "SparkListenerJobStart", "Submission Time": 5000},
        _task(1, 5000, 5100, 90, acc=[(77, 1)]),
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    got = eventlog.fold_event_log(str(log), [(900, 2000)])
    assert got == {
        "spark.jobs": 1, "spark.stages": 1, "spark.tasks": 2,
        "spark.executor_run_ms": 40, "spark.executor_cpu_ms": 4.0,
        "spark.gc_ms": 8,
        # (40 - 30 - 3 - 1) + (10 - 10 - 3 - 1 -> 0)
        "spark.sched_delay_ms": 6,
        "spark.shuffle_write_bytes": 200, "spark.shuffle_read_bytes": 60,
        "spark.spill_bytes": 22, "spark.python_rows": 12}
    assert eventlog.fold_event_log(str(log))["spark.tasks"] == 3
    assert eventlog.task_windows_count(
        str(log), [(1000, 1015), (1015, 6000)]) == [1, 2]


def test_fold_progress_skips_idle_polls():
    def batch(i, rows, trig, dropped=0):
        return {"batchId": i, "numInputRows": rows,
                "durationMs": {"addBatch": trig - 10, "latestOffset": 1,
                               "queryPlanning": 2, "walCommit": 3,
                               "commitOffsets": 4,
                               "triggerExecution": trig},
                "stateOperators": [{"commitTimeMs": trig // 2,
                                    "numRowsTotal": rows,
                                    "memoryUsedBytes": 10 * rows,
                                    "numRowsDroppedByWatermark": dropped}]}
    idle = {"batchId": 3, "numInputRows": 0, "stateOperators": [],
            "durationMs": {"latestOffset": 1, "triggerExecution": 1}}
    got = eventlog.fold_progress(
        [batch(0, 100, 500), batch(1, 10, 100, dropped=2),
         batch(2, 20, 200), idle])
    assert got["stream.triggers"] == 3
    assert got["stream.rows_per_trigger_p50"] == 20
    assert got["stream.trigger_ms_p50"] == 200
    assert got["stream.add_batch_ms_p50"] == 190
    assert got["state.commit_ms_p50"] == 100
    assert got["state.rows_total_max"] == 100
    assert got["state.memory_bytes_max"] == 1000
    assert got["state.rows_dropped_by_watermark"] == 2


def test_fold_real_event_log_at_sf0001(tmp_path):
    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.session import get_spark
    from flink_precisely_demo_spark.sources.parquet import load_table

    sf_dir = datagen.ensure_tables(str(tmp_path / "sf0.001"), 0.001, 42)
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark("perfbench-eventlog-test", cpus=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false"})
    try:
        li = load_table(spark, sf_dir, "lineitem")
        n_rows = li.count()
        (li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
         .write.mode("overwrite").format("noop").save())
        li.select("l_orderkey").mapInPandas(
            lambda it: it, "l_orderkey long").write.mode("overwrite") \
            .format("noop").save()
    finally:
        spark.stop()
    log = eventlog.event_log_file(str(log_dir))
    got = eventlog.fold_event_log(log)
    with open(log) as f:
        task_ends = sum('"Event":"SparkListenerTaskEnd"' in line for line in f)
    assert got["spark.tasks"] == task_ends > 0
    assert got["spark.jobs"] >= 3
    assert got["spark.stages"] >= 3
    assert got["spark.executor_run_ms"] > 0
    assert got["spark.shuffle_write_bytes"] > 0
    assert got["spark.shuffle_read_bytes"] == got["spark.shuffle_write_bytes"]
    assert got["spark.python_rows"] == n_rows
