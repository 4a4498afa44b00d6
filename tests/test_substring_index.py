"""Persisted exact-substring anchor index
(operators/substring_index.py): incremental ingest spans equal the
from-scratch cross-side slice, absorbed-state spans equal from-scratch
over the cumulative corpus (through every build/append/compact/append
stage), compaction prunes over-cap hashes losslessly, and the delta
protocol carries the shared tag/atomicity contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.lsm import (
    applied_tags,
    generations as _delta_dirs,
)
from flink_precisely_demo_spark.operators.dedup import (
    exact_substring_spans,
)
from flink_precisely_demo_spark.operators.substring_index import (
    append_windows,
    build_substring_index,
    compact_substring_index,
    ingest_substring_spans,
    substring_index_stats,
    substring_spans_from_index,
)
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return (load_table(spark, SF, "documents")
            .select("doc_id", "text"))


def _span_set(df, a="a", b="b", sa="a_start", sb="b_start"):
    return {(int(r[a]), int(r[b]), int(r[sa]), int(r[sb]),
             int(r["run_tokens"])) for r in df.collect()}


def _norm_cross(spans, batch_ids):
    """From-scratch spans (a<b) restricted to cross (batch, absorbed)
    pairs, re-oriented to (batch_id, absorbed_id, batch_start,
    absorbed_start)."""
    out = set()
    for a, b, sa, sb, n in spans:
        ina, inb = a in batch_ids, b in batch_ids
        if ina == inb:
            continue
        out.add((a, b, sa, sb, n) if ina else (b, a, sb, sa, n))
    return out


def test_absorbed_spans_equal_from_scratch_at_every_stage(spark, tmp_path):
    """build(%5!=0) -> append(%10==0) -> compact -> append(%10==5):
    after EACH stage, substring_spans_from_index must equal
    exact_substring_spans over the cumulative corpus at that stage —
    including across the compaction prune."""
    docs = _docs(spark)
    path = str(tmp_path / "sidx")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    build_substring_index(hist, path)

    def check(cum):
        assert _span_set(substring_spans_from_index(spark, path)) == \
            _span_set(exact_substring_spans(cum))

    check(hist)
    append_windows(spark, path, docs.filter(F.col("doc_id") % 10 == 0),
                   tag="w0")
    check(docs.filter((F.col("doc_id") % 5 != 0)
                      | (F.col("doc_id") % 10 == 0)))
    assert compact_substring_index(spark, path) == 1
    assert not _delta_dirs(path)
    assert applied_tags(path) >= {"w0"}
    check(docs.filter((F.col("doc_id") % 5 != 0)
                      | (F.col("doc_id") % 10 == 0)))
    append_windows(spark, path, docs.filter(F.col("doc_id") % 10 == 5),
                   tag="w1")
    check(docs)


def test_ingest_spans_equal_cross_side_slice(spark, tmp_path):
    """ingest_substring_spans(batch) must equal the (batch x absorbed)
    slice of exact_substring_spans over (absorbed + batch), caps
    measured over the combined population."""
    docs = _docs(spark)
    path = str(tmp_path / "sidx")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    build_substring_index(hist, path)
    got = _span_set(ingest_substring_spans(spark, path, batch))
    batch_ids = {int(r["doc_id"]) for r in batch.collect()}
    want = _norm_cross(_span_set(exact_substring_spans(docs)),
                       batch_ids)
    assert got == want
    assert got            # fixture must actually exercise alignments


def test_compaction_prune_is_lossless_and_sticky(spark, tmp_path):
    """A boilerplate anchor driven over the occurrence cap must be
    pruned from windows/ at compaction yet stay over-cap (via stats)
    for every later query — a post-prune append of NEW occurrences
    must not resurrect it with undercounted partial rows."""
    boiler = " ".join(f"x{i}" for i in range(16))    # one 16-gram

    def mk(ids):
        rows = []
        for j, i in enumerate(ids):
            seps = f"u{i}a u{i}b"
            # 2 boiler occurrences per doc, plus unique filler
            rows.append((i, boiler + " " + seps + " " + boiler))
        return spark.createDataFrame(rows, "doc_id long, text string")

    path = str(tmp_path / "sidx")
    # caps: max_df=64, max_occ=8 -> 4 docs x 2 occurrences = at cap
    build_substring_index(mk(range(4)), path, k=16, max_df=64,
                          max_occ=8)
    st0 = substring_index_stats(spark, path).collect()[0]
    assert int(st0["n_over_occ"]) == 0
    # spans exist while at cap (min_len=16: the shared 16-gram)
    assert _span_set(substring_spans_from_index(spark, path,
                                                min_len=16))
    append_windows(spark, path, mk([100]))          # tot -> 10 > 8
    assert compact_substring_index(spark, path) == 1
    st1 = substring_index_stats(spark, path).collect()[0]
    assert int(st1["n_over_occ"]) == 1
    # over-cap hash pruned: no spans from it any more
    assert not _span_set(substring_spans_from_index(spark, path,
                                                    min_len=16))
    # post-prune append of fresh occurrences must NOT resurrect it
    append_windows(spark, path, mk([200, 201]))
    assert not _span_set(substring_spans_from_index(spark, path,
                                                    min_len=16))
    # and ingest sees it as over-cap too (combined stats)
    assert ingest_substring_spans(spark, path, mk([300]),
                                  min_len=16).isEmpty()


def test_unmarked_stage_is_invisible(spark, tmp_path):
    """A delta dir without _DELTA_OK (simulated crash mid-publish)
    must not contribute rows."""
    docs = _docs(spark)
    path = str(tmp_path / "sidx")
    build_substring_index(docs.filter(F.col("doc_id") % 5 != 0), path)
    base = _span_set(substring_spans_from_index(spark, path))
    seq = append_windows(spark, path, docs.filter(F.col("doc_id") % 5 == 0))
    # strip the marker: the generation must vanish from reads
    (final,) = [d for s, d in _delta_dirs(path) if s == seq]
    os.remove(os.path.join(final, "_DELTA_OK"))
    assert _span_set(substring_spans_from_index(spark, path)) == base


def test_streaming_sink_idempotence_and_binding_guard(spark, tmp_path):
    """The foreachBatch sink contract for the anchor index
    (streaming/substring_ingest.py): a retried batch tag is a no-op
    (including its span output, by the overwrite-or-rerun argument),
    and a checkpoint restarting behind the absorbed batches fails
    fast."""
    import pytest

    from flink_precisely_demo_spark.operators.lsm import (
        generations as _delta_dirs,
    )
    from flink_precisely_demo_spark.streaming.substring_ingest import (
        substring_index_sink,
    )

    docs = _docs(spark)
    path = os.path.join(str(tmp_path), "idx")
    build_substring_index(docs.filter(F.col("doc_id") % 5 != 0), path)
    spans_out = os.path.join(str(tmp_path), "spans")
    sink = substring_index_sink(path, spans_out=spans_out)
    b1 = docs.filter(F.col("doc_id") % 10 == 0)
    sink(b1, 1)
    assert len(_delta_dirs(path)) == 1
    assert os.path.isdir(os.path.join(spans_out, "batch=1"))
    sink(b1, 1)                          # foreachBatch retry: no-op
    assert len(_delta_dirs(path)) == 1
    with pytest.raises(RuntimeError, match="does not belong"):
        sink(b1, 0)                      # stale checkpoint guard
    # scheduled compaction folds the streamed generations + tags
    sink2 = substring_index_sink(path, compact_every=2)
    sink2(docs.filter(F.col("doc_id") % 10 == 5), 2)
    assert len(_delta_dirs(path)) == 0
    assert applied_tags(path) >= {"b1", "b2"}
    # absorbed spans equal from-scratch over the cumulative corpus
    got = _span_set(substring_spans_from_index(spark, path))
    want = _span_set(exact_substring_spans(docs))
    assert got == want
