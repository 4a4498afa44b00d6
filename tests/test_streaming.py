"""Streaming semantics tests (SURVEY.md §5.3).

Exercises the reference's streaming behaviors on file-backed
micro-batches: watermark late-drop (W1/L1), tumbling windows in
append mode (W2/W3/A1), the end-to-end streaming flagship
(S1/S2/P1/F1/J1/W*/A1), and the faithful stateful enrichment join
(EnrichmentJoin.java buffer/flush/latest-wins paths).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.streaming.pipeline import (
    run_to_memory,
    streaming_flagship,
)
from flink_precisely_demo_spark.streaming.stateful_join import enrich_stream


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _envelope(order_id, address_id, total, ts_str):
    return {
        "sv_manip_type": "I", "sv_trans_id": order_id,
        "sv_trans_row_seq": 1, "sv_sending_table": "SALES.ORDERS",
        "sv_trans_timestamp": ts_str, "sv_trans_username": "u",
        "sv_program_name": "p", "sv_job_name": "j", "sv_job_user": "ju",
        "sv_job_number": "1", "sv_op_timestamp": ts_str,
        "sv_file_member": "m", "sv_receiver_library": "l",
        "sv_receiver_name": "r", "sv_journal_seqno": str(order_id),
        "after_image": {
            "SalesOrderId": order_id, "OrderDate": ts_str,
            "DueDate": ts_str, "ShipDate": ts_str, "Status": 5,
            "ShipToAddressId": address_id, "SubTotal": total,
            "TaxAmt": 0.0, "Freight": 0.0, "TotalDue": total,
        },
    }


@pytest.fixture()
def dims(spark):
    address = spark.createDataFrame(
        [(1, "1 Main St", "Springfield", 10, "11111", "20200101000000"),
         (2, "2 Oak Ave", "Shelbyville", 20, "22222", "20200101000000")],
        "AddressID int, AddressLine1 string, City string, "
        "StateProvinceID int, PostalCode string, ModifiedDate string")
    states = spark.createDataFrame(
        [(10, "US", "Illinois"), (20, "US", "Kentucky")],
        "StateProvinceID int, CountryRegionCode string, Name string")
    return address, states


def test_streaming_flagship_end_to_end(spark, dims, tmp_path):
    address, states = dims
    env_dir = tmp_path / "orders"
    env_dir.mkdir()
    rows = [
        _envelope(1, 1, 100.0, "20200402100100123"),  # window 10:00
        _envelope(2, 1, 50.0, "20200402100500"),      # window 10:00
        _envelope(3, 2, 25.0, "20200402101500"),      # window 10:10
        _envelope(4, 1, 10.0, "20200402200000"),      # window 20:00
    ]
    _write_jsonl(env_dir / "batch1.json", rows)

    out = streaming_flagship(spark, str(env_dir), address, states)
    res = run_to_memory(out, "flagship_stream", spark,
                        output_mode="complete")
    got = {(r["OrderPeriod"].isoformat(), r["State"]): r["TotalDue"]
           for r in res.collect()}
    assert got[("2020-04-02T10:00:00", "Illinois")] == 150.0
    assert got[("2020-04-02T10:10:00", "Kentucky")] == 25.0
    assert got[("2020-04-02T20:00:00", "Illinois")] == 10.0
    assert res.columns == ["OrderPeriod", "TotalDue", "Country", "State"]


def test_watermark_late_drop(spark, dims, tmp_path):
    """L1: a row later than watermark past window end is dropped.

    Timing nuance vs the reference (documented, deliberate): Spark
    filters late input with the watermark as of the batch BEFORE the
    previous one (`watermarkForLateEvents` lags eviction by one
    micro-batch), while Flink's continuous watermark would drop a
    straggler as soon as any earlier record advanced the watermark.
    So the straggler here arrives after TWO high-watermark batches;
    final state is identical either way.
    """
    address, states = dims
    env_dir = tmp_path / "orders_late"
    env_dir.mkdir()
    import os
    _write_jsonl(env_dir / "b1.json",
                 [_envelope(1, 1, 100.0, "20200402100100")])
    _write_jsonl(env_dir / "b2.json",
                 [_envelope(2, 1, 5.0, "20200402120000")])    # watermark -> 11:50
    _write_jsonl(env_dir / "b3.json",
                 [_envelope(3, 1, 7.0, "20200402120100")])    # propagate watermark
    _write_jsonl(env_dir / "b4.json",
                 [_envelope(4, 1, 999.0, "20200402100100")])  # late straggler
    # the file source orders micro-batches by modification time —
    # make the intended order unambiguous
    for i, f in enumerate(["b1.json", "b2.json", "b3.json", "b4.json"]):
        os.utime(env_dir / f, (1000000000 + i * 10, 1000000000 + i * 10))

    out = streaming_flagship(spark, str(env_dir), address, states,
                             max_files_per_trigger=1)
    res = run_to_memory(out, "late_stream", spark, output_mode="append")
    by_window = {r["OrderPeriod"].isoformat(): r["TotalDue"]
                 for r in res.collect()}
    # the 10:00 window was finalized at 100.0; the late 999.0 never lands
    assert by_window.get("2020-04-02T10:00:00") == 100.0


def test_stateful_enrich_buffer_and_flush(spark, tmp_path):
    """EnrichmentJoin paths: fact-before-dim buffers then flushes on
    first dim arrival (:58-60,:64-70); fact-after-dim emits
    immediately (:54-57); dim update applies only to later facts
    (no retraction)."""
    fact_dir = tmp_path / "facts"; fact_dir.mkdir()
    dim_dir = tmp_path / "dims"; dim_dir.mkdir()
    # t=1: fact for key 7 arrives before any dim -> buffered
    # t=2: dim for key 7 arrives -> flush (fact1 joins v1)
    # t=3: fact arrives after dim -> immediate join with v1
    # t=4: dim update v2
    # t=5: fact joins v2; fact1/fact3 results unchanged
    _write_jsonl(fact_dir / "f.json", [
        {"k": 7, "ord": 1.0, "fval": "f1"},
        {"k": 7, "ord": 3.0, "fval": "f2"},
        {"k": 7, "ord": 5.0, "fval": "f3"},
        {"k": 9, "ord": 3.0, "fval": "lonely"},   # no dim ever -> never emitted
    ])
    _write_jsonl(dim_dir / "d.json", [
        {"k": 7, "ord": 2.0, "dval": "v1"},
        {"k": 7, "ord": 4.0, "dval": "v2"},
    ])
    fact = (spark.readStream.schema("k int, ord double, fval string")
            .json(str(fact_dir)))
    dim = (spark.readStream.schema("k int, ord double, dval string")
           .json(str(dim_dir)))
    joined = enrich_stream(fact, dim, "k", "ord")
    res = run_to_memory(joined, "enrich_stream_t", spark)
    rows = {(r["fval"]): r["dval"] for r in res.collect()}
    assert rows == {"f1": "v1", "f2": "v1", "f3": "v2"}


def test_stateful_enrich_cross_batch_state(spark, tmp_path):
    """State survives micro-batches: dim arrives in batch 1, facts in
    batch 2 join against remembered state."""
    src_dir = tmp_path / "union_src"
    fact_dir = src_dir / "facts"; fact_dir.mkdir(parents=True)
    dim_dir = src_dir / "dims"; dim_dir.mkdir(parents=True)
    _write_jsonl(dim_dir / "d1.json", [{"k": 1, "ord": 1.0, "dval": "d-early"}])
    _write_jsonl(fact_dir / "f1.json", [{"k": 1, "ord": 10.0, "fval": "late-fact"}])

    fact = (spark.readStream.schema("k int, ord double, fval string")
            .option("maxFilesPerTrigger", 1).json(str(fact_dir)))
    dim = (spark.readStream.schema("k int, ord double, dval string")
           .option("maxFilesPerTrigger", 1).json(str(dim_dir)))
    res = run_to_memory(enrich_stream(fact, dim, "k", "ord"),
                        "enrich_cross_batch", spark)
    rows = res.collect()
    assert len(rows) == 1 and rows[0]["dval"] == "d-early"


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming twin of exact dedup (SURVEY.md §2.3):
    dropDuplicatesWithinWatermark keeps the first occurrence per key
    with state bounded by the watermark instead of growing forever —
    the only dedup formulation that survives an unbounded stream."""
    import os
    d = tmp_path / "dups"
    d.mkdir()
    _write_jsonl(d / "b1.json", [
        {"id": 1, "ts": "2020-01-01T10:00:00", "v": "first"},
        {"id": 1, "ts": "2020-01-01T10:00:30", "v": "dup-same-batch"},
        {"id": 2, "ts": "2020-01-01T10:01:00", "v": "other"},
    ])
    _write_jsonl(d / "b2.json", [
        {"id": 1, "ts": "2020-01-01T10:02:00", "v": "dup-next-batch"},
    ])
    for i, f in enumerate(["b1.json", "b2.json"]):
        os.utime(d / f, (1000000000 + i * 10,) * 2)
    src = (spark.readStream.schema("id int, ts timestamp, v string")
           .option("maxFilesPerTrigger", 1).json(str(d)))
    deduped = (src.withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["id"]))
    res = run_to_memory(deduped, "stream_dedup", spark)
    got = sorted((r["id"], r["v"]) for r in res.collect())
    assert got == [(1, "first"), (2, "other")]


def test_checkpoint_restart_preserves_state(spark, tmp_path):
    """Fault tolerance (M3/SURVEY §5.3): stop a windowed-agg query,
    append more data, restart from the same checkpoint — the restarted
    query resumes with its aggregation state (Flink analogue:
    checkpointed job restore)."""
    import os
    src = tmp_path / "cp_src"; src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(src / "b1.json", [
        {"ts": "2020-01-01T10:01:00", "k": "a", "v": 10.0},
        {"ts": "2020-01-01T10:02:00", "k": "a", "v": 5.0},
    ])
    os.utime(src / "b1.json", (1000000000,) * 2)

    def start():
        stream = (spark.readStream.schema("ts timestamp, k string, v double")
                  .json(str(src)))
        agg = (stream.groupBy(F.window("ts", "10 minutes"), "k")
               .agg(F.sum(F.col("v").cast("decimal(28,6)"))
                     .cast("double").alias("total")))
        return (agg.writeStream.outputMode("complete")
                .format("memory").queryName("cp_agg")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    q = start()
    q.awaitTermination(120)
    first = {r["k"]: r["total"] for r in spark.sql("SELECT * FROM cp_agg").collect()}
    assert first == {"a": 15.0}

    # more data arrives while the query is down
    _write_jsonl(src / "b2.json", [
        {"ts": "2020-01-01T10:03:00", "k": "a", "v": 1.0},
        {"ts": "2020-01-01T10:04:00", "k": "b", "v": 2.0},
    ])
    os.utime(src / "b2.json", (1000000010,) * 2)

    q2 = start()
    q2.awaitTermination(120)
    second = {r["k"]: r["total"] for r in spark.sql("SELECT * FROM cp_agg").collect()}
    # restored state: a = 15 + 1 (not recomputed from scratch without
    # b1 -- and not 1.0, which is what losing state would produce)
    assert second == {"a": 16.0, "b": 2.0}


def test_fully_streaming_three_source_pipeline(spark, tmp_path):
    """All three CDC sources streamed, both enrichment hops stateful
    (the reference's exact topology, StreamingJob.java:112-113),
    staged across queries — dim rows arrive both before AND after
    their facts to exercise buffer and immediate-join paths across
    the full pipeline."""
    from flink_precisely_demo_spark.streaming.full_pipeline import (
        streaming_flagship_full,
    )
    od = tmp_path / "orders"; od.mkdir()
    ad = tmp_path / "addr"; ad.mkdir()
    sd = tmp_path / "states"; sd.mkdir()
    _write_jsonl(sd / "s.json", [
        {"StateProvinceID": 10, "CountryRegionCode": "US",
         "StateName": "Illinois", "StatesAsOf": 1.0},
    ])
    _write_jsonl(ad / "a.json", [
        # arrives "before" its state row per AsOf -> buffered, then flushed
        {"AddressID": 1, "City": "Springfield", "StateProvinceID": 10,
         "AddressAsOf": 0.5},
        {"AddressID": 2, "City": "Chicago", "StateProvinceID": 10,
         "AddressAsOf": 2.0},
    ])
    _write_jsonl(od / "o.json", [
        {"SalesOrderId": 1, "AddressId": 1, "TotalDue": 100.0,
         "OrderAsOf": "2020-04-02T10:01:00"},
        {"SalesOrderId": 2, "AddressId": 2, "TotalDue": 50.0,
         "OrderAsOf": "2020-04-02T10:05:00"},
        {"SalesOrderId": 3, "AddressId": 1, "TotalDue": 25.0,
         "OrderAsOf": "2020-04-02T10:15:00"},
        {"SalesOrderId": 4, "AddressId": 99, "TotalDue": 999.0,  # no address
         "OrderAsOf": "2020-04-02T10:16:00"},
    ])
    res = streaming_flagship_full(
        spark, str(od), str(ad), str(sd), str(tmp_path / "work"))
    got = {r["OrderPeriod"].isoformat(): r["TotalDue"] for r in res.collect()}
    assert got == {"2020-04-02T10:00:00": 150.0,
                   "2020-04-02T10:10:00": 25.0}
    assert res.columns == ["OrderPeriod", "TotalDue", "Country", "State"]


def test_stateful_enrich_ttl_evicts_state(spark, tmp_path):
    """state_ttl_ms bounds state for unbounded key spaces: after the
    TTL passes with no activity for the key, the dim state is
    expired (lazy check on next access — the default ttl_mode, which
    terminates under availableNow; ProcessingTimeTimeout eviction
    spins no-data batches forever there, measured r9), so a later
    fact buffers (cold-start path) instead of joining — versus the
    faithful no-TTL default where it joins."""
    import os
    fact_dir = tmp_path / "facts"; fact_dir.mkdir()
    dim_dir = tmp_path / "dims"; dim_dir.mkdir()
    # each trigger consumes one file from EACH source: batch1 dim
    # (k=1) stamps last_touch; batch2 (unrelated keys) lets the TTL
    # lapse; batch3's fact finds the state expired and buffers.
    _write_jsonl(dim_dir / "d1.json", [{"k": 1, "ord": 1.0, "dval": "v1"}])
    _write_jsonl(dim_dir / "d2.json", [{"k": 50, "ord": 2.0, "dval": "x"}])
    _write_jsonl(dim_dir / "d3.json", [{"k": 51, "ord": 3.0, "dval": "x"}])
    _write_jsonl(fact_dir / "f1.json", [{"k": 98, "ord": 1.0, "fval": "x"}])
    _write_jsonl(fact_dir / "f2.json", [{"k": 99, "ord": 2.0, "fval": "x"}])
    _write_jsonl(fact_dir / "f3.json", [{"k": 1, "ord": 10.0, "fval": "late"}])
    for i, (d, f) in enumerate([(dim_dir, "d"), (fact_dir, "f")]):
        for j in range(1, 4):
            os.utime(d / f"{f}{j}.json", (1000000000 + j * 10,) * 2)

    def run(name, ttl):
        fact = (spark.readStream.schema("k int, ord double, fval string")
                .option("maxFilesPerTrigger", 1).json(str(fact_dir)))
        dim = (spark.readStream.schema("k int, ord double, dval string")
               .option("maxFilesPerTrigger", 1).json(str(dim_dir)))
        return run_to_memory(
            enrich_stream(fact, dim, "k", "ord", state_ttl_ms=ttl),
            name, spark).collect()

    with_ttl = run("enrich_ttl_1ms", 1)       # expires before the fact batch
    without = run("enrich_ttl_none", None)
    assert with_ttl == []
    assert len(without) == 1 and without[0]["dval"] == "v1"


def test_streaming_session_window_merges_and_splits(spark, tmp_path):
    """Session windows in streaming mode (beyond the reference's
    single tumbling window): events within the 30-min gap merge into
    one session per user; a larger gap starts a new session. The
    streaming result must equal the batch session_window over the
    same rows (one engine, two execution modes)."""
    rows = [
        {"user": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user": "u1", "ts": "2024-01-01 10:10:00", "value": 2.0},
        {"user": "u1", "ts": "2024-01-01 11:30:00", "value": 4.0},
        {"user": "u2", "ts": "2024-01-01 10:05:00", "value": 8.0},
    ]
    src = tmp_path / "sess"
    src.mkdir()
    _write_jsonl(src / "a.jsonl", rows)
    schema = "user string, ts timestamp, value double"

    stream = spark.readStream.schema(schema).json(str(src))
    agg = (stream.groupBy("user", F.session_window("ts", "30 minutes"))
                 .agg(F.sum("value").alias("total")))
    got = sorted(
        (r["user"], r["session_window"]["start"].isoformat(), r["total"])
        for r in run_to_memory(agg, "sess_stream", spark,
                               output_mode="complete").collect())

    batch = spark.read.schema(schema).json(str(src))
    expected = sorted(
        (r["user"], r["session_window"]["start"].isoformat(), r["total"])
        for r in batch.groupBy("user", F.session_window("ts", "30 minutes"))
                      .agg(F.sum("value").alias("total")).collect())
    assert got == expected
    assert len(got) == 3  # u1 x2 sessions, u2 x1


def test_streaming_sliding_window_overlap(spark, tmp_path):
    """Sliding windows (10 min size, 5 min slide) in streaming mode:
    each event lands in two windows; totals equal the batch plan."""
    rows = [
        {"user": "u1", "ts": "2024-01-01 10:02:00", "value": 1.0},
        {"user": "u1", "ts": "2024-01-01 10:07:00", "value": 2.0},
        {"user": "u1", "ts": "2024-01-01 10:12:00", "value": 4.0},
    ]
    src = tmp_path / "slide"
    src.mkdir()
    _write_jsonl(src / "a.jsonl", rows)
    schema = "user string, ts timestamp, value double"

    stream = spark.readStream.schema(schema).json(str(src))
    agg = (stream.groupBy(F.window("ts", "10 minutes", "5 minutes"))
                 .agg(F.sum("value").alias("total")))
    got = sorted(
        (r["window"]["start"].isoformat(), r["total"])
        for r in run_to_memory(agg, "slide_stream", spark,
                               output_mode="complete").collect())
    batch = spark.read.schema(schema).json(str(src))
    expected = sorted(
        (r["window"]["start"].isoformat(), r["total"])
        for r in batch.groupBy(F.window("ts", "10 minutes", "5 minutes"))
                      .agg(F.sum("value").alias("total")).collect())
    assert got == expected
    # 10:02 -> [9:55,10:05)+[10:00,10:10); 10:12 -> [10:05,10:15)+[10:10,10:20)
    assert len(got) == 4


def test_streaming_near_dup_suppression(spark, tmp_path):
    """Near-dup dedup on a STREAM: minhash signatures are computed by
    the same mapInPandas kernel (it runs unchanged on streaming
    DataFrames) and near-identical docs are suppressed by
    dropDuplicates on the signature — the streaming twin of the batch
    MinHash dedup, with state bounded by the watermark column."""
    import json as _json

    from flink_precisely_demo_spark.operators.dedup import (
        minhash_wide_signature,
    )

    src = tmp_path / "docs"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base},                       # exact dup
        {"doc_id": 3, "text": "completely different content here that shares nothing with the fox"},
    ]
    with open(src / "a.jsonl", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    sig = minhash_wide_signature(stream, num_hashes=8)
    sig_cols = [c for c in sig.columns if c.startswith("mh_")]
    deduped = sig.dropDuplicates(sig_cols)
    out = run_to_memory(deduped, "stream_neardup", spark,
                        output_mode="append").collect()
    kept = sorted(r["doc_id"] for r in out)
    assert kept == [1, 3] or kept == [2, 3]  # one of the dup pair survives


def test_streaming_near_dup_dedup(spark, tmp_path):
    """Streaming NEAR-dup twin (SURVEY.md §2.3): minhash band digests
    against a persistent bucket store suppress boilerplate variants
    across micro-batches, with the batch kernels' keep=min rule
    inside a batch. Exact-dup coverage is
    test_streaming_dedup_within_watermark; this is the near-dup
    variant the built-in operator cannot express."""
    import os

    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        dedup_survivors,
        run_near_dup_dedup,
        vacuum_buckets,
    )

    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "sleepy pandas eat bamboo near a quiet river in the misty "
            "morning light of an autumn day in the old forest")
    variant1 = base.replace("autumn", "spring")          # near-dup of base
    variant2 = base.replace("quiet river", "loud creek")  # near-dup of base
    distinct1 = ("completely different subject matter entirely about "
                 "compiler construction register allocation and static "
                 "single assignment form with dominance frontiers and "
                 "phi nodes inserted at join points of the control flow")
    distinct2 = ("a third unrelated document describing ocean currents "
                 "thermohaline circulation and the coriolis effect on "
                 "large rotating bodies of water across the planet with "
                 "salinity gradients driving deep water formation")

    d = tmp_path / "docs"
    d.mkdir()
    _write_jsonl(d / "b1.json", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": variant1},      # in-batch near-dup of 1
        {"doc_id": 3, "text": distinct1},
    ])
    _write_jsonl(d / "b2.json", [
        {"doc_id": 4, "text": variant2},      # cross-batch near-dup of 1
        {"doc_id": 5, "text": distinct2},
        {"doc_id": 6, "text": None},          # no signature: passes through
    ])
    for i, f in enumerate(["b1.json", "b2.json"]):
        os.utime(d / f, (1000000000 + i * 10,) * 2)

    src = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).json(str(d)))
    store, out = str(tmp_path / "buckets"), str(tmp_path / "out")
    run_near_dup_dedup(src, store, out, str(tmp_path / "ckpt"))

    got = sorted(r["doc_id"] for r in
                 dedup_survivors(spark, out).collect())
    assert got == [1, 3, 5, 6]

    # replaying the last batch rewrites the same versions (idempotent)
    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        near_dup_dedup_sink,
    )
    batch2 = spark.read.schema("doc_id long, text string") \
        .json(str(d / "b2.json"))
    near_dup_dedup_sink(store, out)(batch2, 1)
    got = sorted(r["doc_id"] for r in
                 dedup_survivors(spark, out).collect())
    assert got == [1, 3, 5, 6]

    # vacuum: dropping old bucket versions lets an old doc re-enter
    assert vacuum_buckets(store, before_version=1) == [0]


def test_streaming_near_dup_snapshot_compaction(spark, tmp_path):
    """Every compact_every batches the bucket write folds all known
    digests into a marked snapshot; the per-batch read is then one
    snapshot + recent deltas, and pre-snapshot versions can vacuum
    with no loss of dedup state."""
    import os

    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        _known_paths,
        near_dup_dedup_sink,
        vacuum_buckets,
    )

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon",
        2: "one two three four five six seven eight nine ten eleven "
           "twelve thirteen fourteen fifteen sixteen seventeen eighteen",
        3: "red orange yellow green blue indigo violet crimson teal "
           "maroon navy olive coral salmon amber jade pearl onyx",
    }
    store, out = str(tmp_path / "b"), str(tmp_path / "o")
    sink = near_dup_dedup_sink(store, out, compact_every=2)

    def batch(bid, rows):
        sink(spark.createDataFrame(rows, "doc_id long, text string"), bid)

    batch(0, [(1, texts[1])])
    batch(1, [(2, texts[2])])
    batch(2, [(3, texts[3])])          # snapshot batch (2 % 2 == 0)
    assert os.path.exists(os.path.join(store, "buckets_v2", "_SNAPSHOT"))
    # read width for the next batch: just the snapshot
    assert _known_paths(store, 3) == [os.path.join(store, "buckets_v2")]

    # pre-snapshot versions vacuum losslessly: a near-dup of doc 1
    # (seen before the snapshot) is still suppressed afterwards
    assert sorted(vacuum_buckets(store, before_version=2)) == [0, 1]
    batch(3, [(4, texts[1].replace("kappa", "sigma")),   # near-dup of 1
              (5, "totally novel words about submarine cables and "
                  "fiber optic repeaters across the abyssal plain "
                  "with signal regeneration every eighty kilometers")])
    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        dedup_survivors,
    )
    got = sorted(r["doc_id"] for r in dedup_survivors(spark, out).collect())
    assert got == [1, 2, 3, 5]


@pytest.mark.longevity
def test_streaming_near_dup_longevity(spark, tmp_path):
    """Bucket-store invariants over a LONG run (50 micro-batches):
    state size tracks survivors x bands exactly, snapshot compaction
    keeps the per-batch read width bounded by compact_every + 1
    regardless of stream age, post-snapshot vacuum preserves
    within-retention dedup, and a full TTL vacuum demonstrates the
    windowed-dedup trade (old docs re-enter). Batch i carries one
    novel doc and one copy of the batch-0 doc, so the expected
    survivor set and store size are exact at every step."""
    import os

    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        _known_paths,
        dedup_survivors,
        near_dup_dedup_sink,
        vacuum_buckets,
    )

    base = ("shared boilerplate paragraph that reappears forever across "
            "the whole crawl in every single batch of the stream")
    store, out = str(tmp_path / "b"), str(tmp_path / "o")
    sink = near_dup_dedup_sink(store, out, compact_every=16)

    def novel(i):
        return " ".join(f"u{i}w{j}" for j in range(8))

    def store_rows(next_batch):
        paths = _known_paths(store, next_batch)
        return spark.read.parquet(*paths).count(), len(paths)

    BANDS = 4
    sink(spark.createDataFrame([(0, base)], "doc_id long, text string"), 0)
    for i in range(1, 50):
        sink(spark.createDataFrame(
            [(i * 10, novel(i)), (i * 10 + 1, base)],
            "doc_id long, text string"), i)
        if i in (10, 30, 49):
            # exactly one survivor per batch so far, 4 digests each
            n, width = store_rows(i + 1)
            assert n == (i + 1) * BANDS, f"batch {i}: store holds {n}"
            assert width <= 16 + 1, f"read width {width} unbounded"
    assert dedup_survivors(spark, out).count() == 50

    # snapshots landed at 16/32/48; pre-snapshot vacuum loses nothing
    assert os.path.exists(os.path.join(store, "buckets_v48", "_SNAPSHOT"))
    doomed = vacuum_buckets(store, before_version=48)
    assert sorted(doomed) == list(range(48))
    n, width = store_rows(50)
    assert n == 50 * BANDS and width == 2     # snapshot 48 + delta 49
    sink(spark.createDataFrame([(900, base)], "doc_id long, text string"),
         50)
    assert dedup_survivors(spark, out).count() == 50   # still suppressed

    # TTL vacuum of ALL state: dedup becomes windowed, base re-enters
    vacuum_buckets(store, before_version=51)
    sink(spark.createDataFrame([(901, base)], "doc_id long, text string"),
         51)
    got = {r["doc_id"] for r in dedup_survivors(spark, out).collect()}
    assert 901 in got and 900 not in got


def test_streaming_near_dup_chained_suppression(spark, tmp_path):
    """Chained near-dups across the store boundary: B~A~S where A is
    suppressed by the store (near-dup of survivor S) and B shares a
    bucket only with A, not with S. One batch run over
    (prior survivors + batch) suppresses B via A's bucket, so the
    streaming rule must too: in-batch keep=min is computed over the
    FULL batch, including cross-batch-suppressed docs. The texts are a
    deterministic chain triple under the kernel's fixed hash seeds
    (verified: A shares a band digest with S, B with A, B none with
    S)."""
    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        dedup_survivors,
        near_dup_dedup_sink,
    )

    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "sleepy pandas eat bamboo near a quiet river in the misty "
            "morning light of an autumn day in the old forest")
    doc_a = base.replace("bamboo", "yy")   # shares band(s) with base
    doc_b = base.replace("near", "xx")     # shares band(s) with doc_a ONLY

    store, out = str(tmp_path / "b"), str(tmp_path / "o")
    sink = near_dup_dedup_sink(store, out)
    sink(spark.createDataFrame([(1, base)], "doc_id long, text string"), 0)
    sink(spark.createDataFrame([(2, doc_a), (3, doc_b)],
                               "doc_id long, text string"), 1)
    got = sorted(r["doc_id"] for r in dedup_survivors(spark, out).collect())
    assert got == [1]   # A cross-suppressed; B suppressed through A


def test_streaming_near_dup_rejects_foreign_checkpoint(spark, tmp_path):
    """The bucket store's epoch guard in the default run (the
    cross-process twin in test_cross_process.py is slow-marked): a
    fresh checkpoint writing batch 0 against a store that already
    holds buckets_v1 must raise, while a retry of batch 1 stays a
    legitimate idempotent rewrite."""
    from flink_precisely_demo_spark.sources.parquet import load_table
    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        near_dup_dedup_sink,
    )

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents") \
        .select("doc_id", "text")
    store, out = str(tmp_path / "b"), str(tmp_path / "o")
    sink = near_dup_dedup_sink(store, out)
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 2 == 1), 1)
    with pytest.raises(RuntimeError, match="checkpoint does not belong"):
        sink(docs.filter(F.col("doc_id") < 10), 0)
    sink(docs.filter(F.col("doc_id") % 2 == 1), 1)


def test_streaming_session_window(spark, tmp_path):
    """Native session windows in STREAMING mode: a 10-minute gap
    splits sessions, the watermark closes them, and closed sessions
    emit exactly once in append mode."""
    import os

    d = tmp_path / "ev"
    d.mkdir()
    _write_jsonl(d / "b1.json", [
        {"u": 1, "ts": "2024-01-01 10:00:00", "v": 1.0},
        {"u": 1, "ts": "2024-01-01 10:05:00", "v": 2.0},   # same session
        {"u": 1, "ts": "2024-01-01 10:30:00", "v": 4.0},   # new session
        {"u": 2, "ts": "2024-01-01 10:00:00", "v": 8.0},
    ])
    _write_jsonl(d / "b2.json", [
        # advances watermark far past every session's close
        {"u": 9, "ts": "2024-01-01 12:00:00", "v": 0.0},
    ])
    for i, f in enumerate(["b1.json", "b2.json"]):
        os.utime(d / f, (1000000000 + i * 10,) * 2)

    src = (spark.readStream.schema("u int, ts timestamp, v double")
           .option("maxFilesPerTrigger", 1).json(str(d)))
    agg = (src.withWatermark("ts", "1 minute")
              .groupBy("u", F.session_window("ts", "10 minutes"))
              .agg(F.sum("v").alias("total"),
                   F.count(F.lit(1)).alias("n")))
    res = run_to_memory(agg, "stream_sessions", spark)
    got = sorted((r["u"], r["total"], r["n"]) for r in res.collect())
    # u=1: session {1,2} then {4}; u=2: {8}; u=9's session still open
    assert got == [(1, 3.0, 2), (1, 4.0, 1), (2, 8.0, 1)]


def test_text_pipeline_is_streaming_safe(spark, tmp_path):
    """The round-6 text layer (html extract -> pii scrub -> chunking)
    is pure stateless column expressions, so the SAME operators must
    run unchanged under readStream — the batch/stream unification the
    engine promises for every scan-stage map."""
    import json

    from flink_precisely_demo_spark.functions.text import (
        chunk_starts,
        html_to_text,
        scrub_pii,
    )

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"doc_id": 1,
         "text": "<p>mail a@b.co</p><script>x<1</script> one two three"},
        {"doc_id": 2, "text": "plain four five six seven eight"},
    ]
    (src / "batch0.json").write_text(
        "\n".join(json.dumps(r) for r in rows))

    stream = (spark.readStream.schema("doc_id long, text string")
              .json(str(src)))
    out = (stream
           .withColumn("clean", scrub_pii(html_to_text("text")))
           .withColumn("starts", chunk_starts(F.col("clean"), 2)))
    q = (out.writeStream.format("memory").queryName("txt_stream")
            .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql(
        "SELECT * FROM txt_stream").collect()}
    assert got[1]["clean"] == "mail [EMAIL] one two three"
    assert got[1]["starts"] == [0, 2, 4]   # 5 tokens, stride 2
    assert got[2]["starts"] == [0, 2, 4]


def test_streaming_scd2_matches_batch(spark, tmp_path):
    """Incremental SCD2 over a multi-micro-batch replay converges to
    the batch operator's answer: closed versions emitted by the
    stream == lead()-window rows with valid_to set; the open state
    is observable by closing it with sentinel deletes and equals the
    is_current rows. maxFilesPerTrigger=1 forces three micro-batches
    so state genuinely crosses trigger boundaries."""
    import json as _json

    from flink_precisely_demo_spark.streaming.scd2 import scd2_stream

    # change log: key 1 I->U->U (2 closed + 1 open), key 2 I->D
    # (1 closed, none open), key 3 I only (open); then sentinel
    # deletes that flush the still-open versions.
    batches = [
        [
            {"key": 1, "m": "I", "ts": "2020-01-01T00:00:00",
             "value": 10.0, "trans_id": 1, "row_seq": 1},
            {"key": 2, "m": "I", "ts": "2020-01-01T01:00:00",
             "value": 20.0, "trans_id": 2, "row_seq": 1},
            {"key": 1, "m": "U", "ts": "2020-01-02T00:00:00",
             "value": 11.0, "trans_id": 3, "row_seq": 1},
        ],
        [
            {"key": 1, "m": "U", "ts": "2020-01-03T00:00:00",
             "value": 12.0, "trans_id": 4, "row_seq": 1},
            {"key": 2, "m": "D", "ts": "2020-01-02T12:00:00",
             "value": 0.0, "trans_id": 5, "row_seq": 1},
            {"key": 3, "m": "I", "ts": "2020-01-01T06:00:00",
             "value": 30.0, "trans_id": 6, "row_seq": 1},
        ],
        [
            {"key": 1, "m": "D", "ts": "2020-09-09T00:00:00",
             "value": 0.0, "trans_id": 9, "row_seq": 1},
            {"key": 3, "m": "D", "ts": "2020-09-09T00:00:00",
             "value": 0.0, "trans_id": 9, "row_seq": 1},
        ],
    ]
    src = tmp_path / "changes"
    src.mkdir()
    import os as _os
    import time as _time
    base = _time.time() - 100
    for i, b in enumerate(batches):
        f = src / f"b{i}.json"
        f.write_text("\n".join(map(_json.dumps, b)))
        # the file source orders triggers by modification time; pin
        # it so the three micro-batches replay in log order (equal
        # mtimes within one clock tick made the order nondeterministic)
        _os.utime(f, (base + i * 10, base + i * 10))

    schema = ("key long, m string, ts timestamp, value double, "
              "trans_id long, row_seq int")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = (scd2_stream(stream).writeStream.format("memory")
         .queryName("scd2_all")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    assert len(q.recentProgress) >= 3   # state really crossed triggers

    closed = {(r["key"], r["valid_from"].isoformat()): r
              for r in spark.sql("SELECT * FROM scd2_all").collect()}
    expect = {
        (1, "2020-01-01T00:00:00"): (10.0, "2020-01-02T00:00:00"),
        (1, "2020-01-02T00:00:00"): (11.0, "2020-01-03T00:00:00"),
        (2, "2020-01-01T01:00:00"): (20.0, "2020-01-02T12:00:00"),
        # sentinel-flushed former is_current rows:
        (1, "2020-01-03T00:00:00"): (12.0, "2020-09-09T00:00:00"),
        (3, "2020-01-01T06:00:00"): (30.0, "2020-09-09T00:00:00"),
    }
    assert len(closed) == len(expect)
    for (k, vf), (val, vt) in expect.items():
        r = closed[(k, vf)]
        assert r["value"] == val and r["valid_to"].isoformat() == vt

    # key-group invariance (r15 optimization: the kernel batches
    # logical keys per state group to bound the per-trigger Python
    # call count): forcing ALL keys into ONE state group — the
    # maximum-interleaving case — must yield the identical closed
    # set, because the kernel still applies each logical key's
    # changes in its own (ts, trans_id, row_seq) order.
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).json(str(src)))
    q2 = (scd2_stream(stream2, key_groups=1)
          .writeStream.format("memory").queryName("scd2_kg1")
          .option("checkpointLocation", str(tmp_path / "ckpt_kg1"))
          .trigger(availableNow=True).start())
    assert q2.awaitTermination(180)
    closed_kg1 = {(r["key"], r["valid_from"].isoformat()):
                  (r["value"], r["valid_to"].isoformat())
                  for r in spark.sql("SELECT * FROM scd2_kg1").collect()}
    assert closed_kg1 == {(k, vf): (val, vt)
                          for (k, vf), (val, vt) in expect.items()}


def test_streaming_funnel_matches_batch_on_shuffled_replay(spark, tmp_path):
    """The streaming funnel must converge to the batch min-chain on
    ANY arrival order: events for 20 users (every archetype: full
    conversion, click-no-purchase, view-only, no-view, pre-view
    click) are split across three files with the EARLIEST view of the
    converting users arriving LAST — the non-monotone case where a
    late view shifts the window backward and admits a click that was
    previously outside it."""
    import os

    from flink_precisely_demo_spark.streaming.funnel import funnel_stream

    base = "2020-01-01T{:02d}:{:02d}:00"

    def ev(u, mm_h, typ):
        return {"user_id": u, "event_type": typ,
                "ts": base.format(mm_h // 60, mm_h % 60)}

    f1, f2, f3, expected = [], [], [], {}
    for u in range(20):
        a = u % 5
        if a == 0:
            # late-arriving earlier view: t1 drops 0:20 -> 0:05 and
            # admits the 0:15 click that the 0:20 anchor excluded
            f1 += [ev(u, 20, "view"), ev(u, 15, "click")]
            f2 += [ev(u, 40, "purchase")]
            f3 += [ev(u, 5, "view")]
            expected[u] = (5, 15, 40, 3)
        elif a == 1:
            # purchase outside t1 + 1h: stage 2
            f1 += [ev(u, 10, "view")]
            f2 += [ev(u, 30, "click"), ev(u, 80, "purchase")]
            expected[u] = (10, 30, None, 2)
        elif a == 2:
            f2 += [ev(u, 25, "view")]
            expected[u] = (25, None, None, 1)
        elif a == 3:
            f1 += [ev(u, 12, "click")]
            f3 += [ev(u, 50, "purchase")]
            expected[u] = (None, None, None, 0)
        else:
            # click strictly before the first view never counts, so
            # the purchase has no anchor either
            f1 += [ev(u, 8, "click")]
            f2 += [ev(u, 22, "view"), ev(u, 45, "purchase")]
            expected[u] = (22, None, None, 1)

    d = tmp_path / "funnel_src"
    d.mkdir()
    for i, rows in enumerate([f1, f2, f3]):
        _write_jsonl(d / f"b{i}.json", rows)
        os.utime(d / f"b{i}.json", (1000000000 + i,) * 2)

    src = (spark.readStream.schema("user_id long, event_type string, "
                                   "ts timestamp")
           .option("maxFilesPerTrigger", 1).json(str(d))
           .withWatermark("ts", "2 hours"))   # nothing late in-test
    q = (funnel_stream(src).writeStream.outputMode("update")
         .format("memory").queryName("funnel_replay")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM funnel_replay").collect()
    latest = {}
    for r in rows:
        if r["user_id"] not in latest or \
                r["n_seen"] > latest[r["user_id"]]["n_seen"]:
            latest[r["user_id"]] = r

    def mm(ts):
        return None if ts is None else ts.hour * 60 + ts.minute

    assert set(latest) == set(expected)
    for u, (t1, t2, t3, stage) in expected.items():
        r = latest[u]
        got = (mm(r["first_view"]), mm(r["first_click"]),
               mm(r["first_purchase"]), r["funnel_stage"])
        assert got == (t1, t2, t3, stage), f"user {u}: {got}"


def test_streaming_funnel_finalization_tombstone(spark, tmp_path):
    """Once the watermark closes a user's conversion window the
    funnel is FINAL: a straggler view later must not reopen the user
    with a bogus new chain (the batch semantics would still anchor
    on the original first view)."""
    import os

    from flink_precisely_demo_spark.streaming.funnel import funnel_stream

    d = tmp_path / "funnel_fin"
    d.mkdir()
    _write_jsonl(d / "b0.json", [
        {"user_id": 1, "event_type": "view", "ts": "2020-01-01T00:00:00"},
        {"user_id": 2, "event_type": "view", "ts": "2020-01-01T02:00:00"},
    ])
    # watermark is now 01:59 > user 1's window end (01:00): the next
    # event for user 1 finalizes it...
    _write_jsonl(d / "b1.json", [
        {"user_id": 1, "event_type": "view", "ts": "2020-01-01T02:30:00"},
    ])
    # ...and this straggler hits the tombstone (no effect)
    _write_jsonl(d / "b2.json", [
        {"user_id": 1, "event_type": "view", "ts": "2020-01-01T03:00:00"},
        {"user_id": 1, "event_type": "click", "ts": "2020-01-01T03:10:00"},
    ])
    for i in range(3):
        os.utime(d / f"b{i}.json", (1000000000 + i,) * 2)

    src = (spark.readStream.schema("user_id long, event_type string, "
                                   "ts timestamp")
           .option("maxFilesPerTrigger", 1).json(str(d))
           .withWatermark("ts", "1 minute"))
    q = (funnel_stream(src).writeStream.outputMode("update")
         .format("memory").queryName("funnel_fin")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = [r for r in spark.sql("SELECT * FROM funnel_fin").collect()
            if r["user_id"] == 1]
    assert rows, "user 1 produced no snapshots"
    last = max(rows, key=lambda r: r["n_seen"])
    # anchored on the ORIGINAL first view, never the straggler
    assert last["first_view"].hour == 0
    assert last["funnel_stage"] == 1
    assert all(r["first_view"].hour == 0 for r in rows)


def test_streaming_sessionize_bridge_merge_out_of_order(spark, tmp_path):
    """A late middle event must BRIDGE two previously-separate
    sessions: batches deliver t=0min and t=50min first (two sessions,
    gap 30min), then t=25min arrives and welds them into one."""
    import os

    from flink_precisely_demo_spark.streaming.sessionize import (
        sessionize_stream,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    base = 1_700_000_000_000_000  # us
    mins = 60_000_000

    def write_batch(k, times_min):
        rows = [(1, t) for t in times_min]
        df = spark.createDataFrame(
            [(u, (base + t * mins) // 1_000_000) for u, t in rows],
            "user_id long, epoch long") \
            .select("user_id", F.col("epoch").cast("timestamp").alias("ts"))
        part = tmp_path / f"part{k}"
        df.coalesce(1).write.parquet(str(part))
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(part / src, feed / f"b{k}.parquet")
        os.utime(feed / f"b{k}.parquet", (1_000_000_000 + 10 * k,) * 2)

    write_batch(0, [0, 50])
    write_batch(1, [25])

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(feed))
              .withWatermark("ts", "36500 days"))
    snap = run_to_memory(sessionize_stream(stream), "sess_bridge",
                         spark, output_mode="update")
    rows = sorted(snap.collect(), key=lambda r: r["n_seen"])
    # first trigger: two separate 1-event sessions
    first = [r for r in rows if r["n_seen"] == 2]
    assert len(first) == 2
    assert {r["n_events"] for r in first} == {1}
    # after the bridge event: exactly one 3-event session
    last = [r for r in rows if r["n_seen"] == 3]
    assert len(last) == 1
    assert last[0]["n_events"] == 3
    span = last[0]["session_end"] - last[0]["session_start"]
    assert span.total_seconds() == (50 + 30) * 60  # 0..50min + 30min gap


def test_streaming_sessionize_watermark_finalizes_and_evicts(spark, tmp_path):
    """Once the watermark passes session_end + gap the session is
    emitted final=true and leaves state; a much-later event then
    opens a FRESH session rather than extending the dead one."""
    import json as _json
    import os

    from flink_precisely_demo_spark.streaming.sessionize import (
        sessionize_stream,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    base = 1_700_000_000_000_000
    mins = 60_000_000

    def write_batch(k, times_min):
        df = spark.createDataFrame(
            [(1, (base + t * mins) // 1_000_000) for t in times_min],
            "user_id long, epoch long") \
            .select("user_id", F.col("epoch").cast("timestamp").alias("ts"))
        part = tmp_path / f"part{k}"
        df.coalesce(1).write.parquet(str(part))
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(part / src, feed / f"b{k}.parquet")
        os.utime(feed / f"b{k}.parquet", (1_000_000_000 + 10 * k,) * 2)

    write_batch(0, [0])
    write_batch(1, [600])  # 10h later: advances the watermark
    write_batch(2, [610])  # trigger 3 sees wm=599min: session@0 dead

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(feed))
              .withWatermark("ts", "1 minutes"))
    snap = run_to_memory(sessionize_stream(stream), "sess_final",
                         spark, output_mode="update")
    rows = snap.collect()
    finals = [r for r in rows if r["final"]]
    assert len(finals) == 1 and finals[0]["n_events"] == 1
    # the last trigger's live snapshot holds ONLY the fresh session
    # (600 and 610 merged; the dead session@0 was evicted, so the
    # late-window recount did NOT resurrect it)
    live_last = [r for r in rows if r["n_seen"] == 3 and not r["final"]]
    assert len(live_last) == 1 and live_last[0]["n_events"] == 2
    assert live_last[0]["session_start"] > finals[0]["session_end"]


def test_streaming_pattern_watermark_folds_finalized_prefix(spark, tmp_path):
    """Out-of-order events buffer until the watermark passes them,
    then fold into the O(1) automata in event-time order: the funnel
    DFA must see v,c (arriving c AFTER e, with an earlier timestamp)
    in timestamp order, and the adjacent-ee burst must be detected
    across the finalize boundary."""
    import os

    from flink_precisely_demo_spark.streaming.pattern import pattern_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    base = 1_700_000_000_000_000
    mins = 60_000_000

    def write_batch(k, rows):  # rows: (event_id, user_id, type, t_min)
        df = spark.createDataFrame(
            [(eid, u, et, (base + t * mins) // 1_000_000)
             for eid, u, et, t in rows],
            "event_id long, user_id long, event_type string, epoch long"
        ).select("event_id", "user_id", "event_type",
                 F.col("epoch").cast("timestamp").alias("ts"))
        part = tmp_path / f"part{k}"
        df.coalesce(1).write.parquet(str(part))
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(part / src, feed / f"b{k}.parquet")
        os.utime(feed / f"b{k}.parquet", (1_000_000_000 + 10 * k,) * 2)

    write_batch(0, [(1, 1, "view", 0), (2, 1, "error", 5)])
    # c arrives AFTER the errors but with an EARLIER timestamp; the
    # user-2 event at t=600 advances the global watermark
    write_batch(1, [(3, 1, "error", 6), (4, 1, "click", 3),
                    (5, 2, "view", 600)])
    write_batch(2, [(6, 1, "purchase", 1200)])

    schema = ("event_id long, user_id long, event_type string, "
              "ts timestamp")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(feed))
              .withWatermark("ts", "1 minutes"))
    snap = run_to_memory(pattern_stream(stream), "pat_fold",
                         spark, output_mode="update")
    rows = [r for r in snap.collect() if r["user_id"] == 1]
    last = max(rows, key=lambda r: r["n_seen"])
    assert last["n_events"] == 5
    # v(0) c(3) e(5) e(6) p(1200) in event-time order:
    assert last["has_funnel_path"] is True   # v < c < p by TIME
    assert last["has_error_burst"] is True   # adjacent ee at 5,6
    assert last["n_purchases"] == 1
    # mid-stream snapshot (before the click arrived): no funnel yet
    first = min(rows, key=lambda r: r["n_seen"])
    assert first["n_events"] == 2 and first["has_funnel_path"] is False


def test_native_stream_stream_interval_join(spark, tmp_path):
    """The built-in stream-stream interval join: purchases match
    same-user clicks within the preceding hour; a click outside the
    interval never joins, and both state buffers are engine-bounded
    by the two watermarks (no custom state code at all)."""
    import os

    from flink_precisely_demo_spark.streaming.pipeline import (
        stream_interval_join,
    )

    cdir = tmp_path / "clicks"; cdir.mkdir()
    pdir = tmp_path / "purchases"; pdir.mkdir()
    base = 1_700_000_000  # s

    def write(d, name, rows):  # rows: (user, t_offset_min)
        df = spark.createDataFrame(
            [(u, base + t * 60) for u, t in rows],
            "user_id long, epoch long") \
            .select("user_id", F.col("epoch").cast("timestamp").alias("ts"))
        part = tmp_path / f"__{name}"
        df.coalesce(1).write.parquet(str(part))
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(part / src, d / f"{name}.parquet")

    write(cdir, "c1", [(1, 0), (1, 30), (2, 0), (3, 500)])
    write(pdir, "p1", [(1, 45), (2, 90), (3, 520)])
    # user 1: clicks at 0,30 both within [45-60, 45] -> 2 rows
    # user 2: click at 0 vs purchase at 90 -> outside 1h -> no row
    # user 3: click 500, purchase 520 -> 1 row

    clicks = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(cdir)).withWatermark("ts", "2 hours"))
    purchases = (spark.readStream.schema("user_id long, ts timestamp")
                 .parquet(str(pdir)).withWatermark("ts", "2 hours"))
    res = run_to_memory(stream_interval_join(clicks, purchases),
                        "ss_interval", spark)
    rows = sorted((r["user_id"], r["lag_seconds"]) for r in res.collect())
    assert rows == [(1, 900.0), (1, 2700.0), (3, 1200.0)]


def test_stream_stream_left_outer_interval_join_timeout_nulls(
        spark, tmp_path):
    """LEFT OUTER interval join: a click with a purchase inside the
    forward window emits matched; a click with NO purchase must
    still emit — null-padded — once the watermark passes
    click_ts + window and the engine evicts its state. The null row
    IS the eviction event (the semantics the inner join never
    exercises)."""
    import os

    from flink_precisely_demo_spark.streaming.pipeline import (
        stream_interval_join_outer,
    )

    cdir = tmp_path / "clicks"; cdir.mkdir()
    pdir = tmp_path / "purchases"; pdir.mkdir()
    base = 1_700_000_000  # s

    def write(d, name, rows):  # rows: (user, t_offset_min)
        df = spark.createDataFrame(
            [(u, base + t * 60) for u, t in rows],
            "user_id long, epoch long") \
            .select("user_id", F.col("epoch").cast("timestamp").alias("ts"))
        part = tmp_path / f"__{name}"
        df.coalesce(1).write.parquet(str(part))
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(part / src, d / f"{name}.parquet")

    # user 1 converts (purchase 10 min after the click); user 2
    # abandons (no purchase ever); the t=2000 rows on BOTH sides
    # push both watermarks far past click+window so the miss is
    # provable and user 2's state is evicted
    write(cdir, "c1", [(1, 0), (2, 0), (9, 2000)])
    write(pdir, "p1", [(1, 10), (9, 2000)])

    clicks = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(cdir)).withWatermark("ts", "1 minutes"))
    purchases = (spark.readStream.schema("user_id long, ts timestamp")
                 .parquet(str(pdir)).withWatermark("ts", "1 minutes"))
    res = run_to_memory(
        stream_interval_join_outer(clicks, purchases, window="1 hour"),
        "ss_outer", spark)
    by_user = {}
    for r in res.collect():
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: exactly one MATCHED row
    assert len(by_user[1]) == 1
    m = by_user[1][0]
    assert m["converted"] is True and m["lag_seconds"] == 600.0
    # user 2: exactly one NULL-PADDED row, emitted via state eviction
    assert len(by_user[2]) == 1
    miss = by_user[2][0]
    assert miss["converted"] is False
    assert miss["purchase_ts"] is None and miss["lag_seconds"] is None
    assert miss["click_ts"] is not None


class _FakeGroupState:
    """Minimal GroupState stand-in for driving session_step /
    pattern_step through the timeout branch deterministically."""

    def __init__(self, value=None, wm_ms=0, timed_out=False):
        self._value = value
        self._wm = wm_ms
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        assert self._value is not None
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        self.timeout_set_ms = ms


def test_session_step_timeout_finalizes_and_evicts_idle_key():
    """EventTimeTimeout branch: a key that receives NO rows still
    emits final=true and sheds its session state once the watermark
    passes session_end + gap (r8 advisory — NoTimeout kept idle keys
    forever). The r9 advisory refinement: the timeout emission must
    carry a HIGHER n_seen than the data-trigger snapshot it
    supersedes, and eviction leaves a tombstone carrying n_seen (not
    remove()) so a returning user cannot restart the sequence."""
    import json as _json

    from flink_precisely_demo_spark.streaming.sessionize import (
        session_step,
    )

    gap_us = 1_800_000_000  # 30 min
    base_us = 1_700_000_000_000_000
    state = _FakeGroupState(
        value=(_json.dumps([[base_us, base_us, 1]]), 1),
        wm_ms=(base_us + gap_us) // 1000 + 60_000,  # past expiry
        timed_out=True)
    out = list(session_step((1,), iter([]), state, gap_us))
    assert not state.removed, "tombstone must persist n_seen"
    assert state.get == (_json.dumps([]), 2), \
        "tombstone = empty session list + bumped n_seen"
    assert state.timeout_set_ms is None, "no live session, no re-arm"
    rows = out[0].to_dict("records")
    assert len(rows) == 1
    assert rows[0]["final"] is True and rows[0]["n_events"] == 1
    assert rows[0]["n_seen"] == 2, \
        "timeout snapshot must supersede the final=false snapshot"


def test_session_step_returning_user_continues_n_seen():
    """A user whose state was fully evicted (tombstone) and who then
    sends a new event must continue the monotonic n_seen sequence —
    a restart at 0 would make the max-n_seen dedup select stale
    pre-eviction snapshots (r9 advisory)."""
    import json as _json

    import pandas as _pd

    from flink_precisely_demo_spark.streaming.sessionize import (
        session_step,
    )

    gap_us = 1_800_000_000
    base_us = 1_700_000_000_000_000
    state = _FakeGroupState(
        value=(_json.dumps([]), 5),  # tombstone after eviction
        wm_ms=base_us // 1000, timed_out=False)
    rows = _pd.DataFrame({"ts": _pd.to_datetime(
        [base_us + 200 * gap_us], unit="us")})
    out = list(session_step((1,), iter([rows]), state, gap_us))
    recs = out[0].to_dict("records")
    assert len(recs) == 1
    assert recs[0]["n_seen"] == 6, "sequence continues past eviction"
    assert not recs[0]["final"]


def test_session_step_timeout_rearms_for_surviving_sessions():
    """Timeout with one dead and one live session: the dead one is
    emitted final and dropped, the live one stays in state with a
    fresh timeout at ITS expiry."""
    import json as _json

    from flink_precisely_demo_spark.streaming.sessionize import (
        session_step,
    )

    gap_us = 1_800_000_000
    base_us = 1_700_000_000_000_000
    late_us = base_us + 100 * gap_us
    wm_ms = (base_us + gap_us) // 1000 + 60_000  # past s1, before s2
    state = _FakeGroupState(
        value=(_json.dumps([[base_us, base_us, 1],
                            [late_us, late_us, 2]]), 3),
        wm_ms=wm_ms, timed_out=True)
    out = list(session_step((1,), iter([]), state, gap_us))
    kept = _json.loads(state.get[0])
    assert kept == [[late_us, late_us, 2]]
    assert state.timeout_set_ms == (late_us + gap_us) // 1000 + 1
    finals = [r for r in out[0].to_dict("records") if r["final"]]
    assert len(finals) == 1 and finals[0]["n_events"] == 1


def test_pattern_step_timeout_folds_buffer_silently():
    """EventTimeTimeout branch for the CEP runner: an idle key's
    finalized buffer prefix folds into the O(1) automaton and leaves
    state, with NO emission (verdicts are unchanged by the fold, and
    a duplicate row would break per-n_seen snapshot uniqueness)."""
    import json as _json

    from flink_precisely_demo_spark.streaming.pattern import (
        pattern_step,
    )

    base_us = 1_700_000_000_000_000
    buf = [[base_us, 1, "v"], [base_us + 1_000_000, 2, "c"],
           [base_us + 2_000_000, 3, "p"]]
    state = _FakeGroupState(
        value=(0, "", False, 3, 1, _json.dumps(buf)),
        wm_ms=base_us // 1000 + 600_000,  # past every buffered event
        timed_out=True)
    out = list(pattern_step((1,), iter([]), state))
    assert out == [], "timeout fold must not emit"
    stage, prev, burst, n_events, n_purch, buffer_json = state.get
    assert stage == 3 and _json.loads(buffer_json) == []
    assert n_events == 3 and n_purch == 1
    assert state.timeout_set_ms is None, "empty buffer, no re-arm"


def test_streaming_sessionize_idle_key_finalized_without_new_rows(
        spark, tmp_path):
    """End to end: user 1 sends ONE event then goes silent; user 2's
    later events advance the watermark. The event-time timeout must
    still deliver user 1's final=true emission and evict the state
    row (total state rows drop to user 2 only)."""
    import os
    import uuid

    from flink_precisely_demo_spark.streaming.sessionize import (
        sessionize_stream,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    base = 1_700_000_000_000_000
    mins = 60_000_000

    def write_batch(k, rows):  # rows: (user_id, t_min)
        df = spark.createDataFrame(
            [(u, (base + t * mins) // 1_000_000) for u, t in rows],
            "user_id long, epoch long") \
            .select("user_id", F.col("epoch").cast("timestamp").alias("ts"))
        part = tmp_path / f"part{k}"
        df.coalesce(1).write.parquet(str(part))
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(part / src, feed / f"b{k}.parquet")
        os.utime(feed / f"b{k}.parquet", (1_000_000_000 + 10 * k,) * 2)

    write_batch(0, [(1, 0)])       # user 1: one event, then silence
    write_batch(1, [(2, 600)])     # user 2 advances the watermark
    write_batch(2, [(2, 610)])     # trigger 3: wm=599min fires the
    # user-1 timeout (session expiry 30min) with no user-1 rows

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(feed))
              .withWatermark("ts", "1 minutes"))
    name = f"sess_idle_{uuid.uuid4().hex[:8]}"
    q = (sessionize_stream(stream).writeStream.outputMode("update")
         .format("memory").queryName(name)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()

    u1 = [r for r in rows if r["user_id"] == 1]
    finals = [r for r in u1 if r["final"]]
    assert len(finals) == 1 and finals[0]["n_events"] == 1
    # the final=true snapshot must carry the highest n_seen of the
    # user's rows, so a max-n_seen dedup keeps IT and not the earlier
    # final=false version (r9 advisory)
    assert finals[0]["n_seen"] == max(r["n_seen"] for r in u1)
    # state sheds the idle key's SESSIONS but keeps a 2-field
    # tombstone carrying n_seen (r9 advisory: remove() let returning
    # users restart the sequence): user-1 tombstone + user-2 live
    # session = 2 state rows, bounded by n_users as the longevity
    # gate enforces
    progresses = [p for p in q.recentProgress
                  if p.get("stateOperators")]
    assert progresses, "no state metrics recorded"
    assert progresses[-1]["stateOperators"][0]["numRowsTotal"] == 2


def test_replay_to_parquet_empty_drain_and_label_reclaim(spark, tmp_path):
    """The scale-safe replay drain (r11 verdict item 3: replaces the
    memory-sink collect that forced an 8g maxResultSize raise).
    Pins two contracts: (a) a drain that emits ZERO rows returns an
    empty DataFrame with the stream's declared schema (the read-back
    must not fail schema inference on a fileless dir); (b) a label's
    next drain reclaims its previous output dir, so a process that
    drains the same replay repeatedly (bench min-of-2) holds at most
    one live dir per label."""
    import os

    from flink_precisely_demo_spark.streaming.pipeline import (
        _REPLAY_DRAIN_DIRS,
        replay_to_parquet,
    )

    feed = str(tmp_path / "feed")
    (spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
     .coalesce(1).write.parquet(feed))
    stream = (spark.readStream.schema("k long, v string").parquet(feed))

    # (a) a filter nothing survives -> zero-row drain, schema intact
    empty = replay_to_parquet(
        stream.filter(F.col("k") > 100), spark, "pytest_replay_drain",
        checkpoint=str(tmp_path / "ckpt0"), timeout=120)
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<k:bigint,v:string>"
    first_dir = _REPLAY_DRAIN_DIRS["pytest_replay_drain"]
    assert os.path.isdir(first_dir)

    # (b) re-draining the same label reclaims the first dir
    full = replay_to_parquet(
        stream, spark, "pytest_replay_drain",
        checkpoint=str(tmp_path / "ckpt1"), timeout=120)
    assert sorted(r["v"] for r in full.collect()) == ["a", "b"]
    second_dir = _REPLAY_DRAIN_DIRS["pytest_replay_drain"]
    assert second_dir != first_dir
    assert not os.path.exists(first_dir)
