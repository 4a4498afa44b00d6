"""Maintained inverted text index (operators/text_index.py): served
BM25 equals a from-scratch build over the visible corpus through
every build/upsert/delete/compact stage, updates shadow old text,
deletes drop docs from results AND corpus stats, compaction is
result-invariant and resets the delta debt, and the delta protocol
carries the shared tag/atomicity contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.lsm import (
    applied_tags,
    delta_tags,
)
from flink_precisely_demo_spark.operators.text_index import (
    build_text_index,
    compact_text_index,
    search_text_index,
    text_index_stats,
    upsert_text_index,
)
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"
TERMS = ("spark", "window", "merge", "stream", "scan")


def _docs(spark):
    return (load_table(spark, SF, "documents")
            .select("doc_id", "text")
            .filter(F.col("text").isNotNull()))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _scratch(spark, visible, tmp, name, k=5, terms=TERMS):
    """From-scratch single-generation index over ``visible`` — the
    ground truth served results must hash-match at every stage."""
    p = os.path.join(str(tmp), name)
    build_text_index(visible, p, n_buckets=16)
    return _rows(search_text_index(spark, p, terms, k=k))


def test_served_equals_from_scratch_through_lifecycle(spark, tmp_path):
    docs = _docs(spark)
    path = os.path.join(str(tmp_path), "tix")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    build_text_index(base, path, n_buckets=16)
    assert _rows(search_text_index(spark, path, TERMS)) == \
        _scratch(spark, base, tmp_path, "s0")

    # wave 0: adds only
    upsert_text_index(spark, path,
                      updates=docs.filter(F.col("doc_id") % 6 == 0),
                      tag="u0")
    vis1 = docs.filter((F.col("doc_id") % 3 != 0)
                       | (F.col("doc_id") % 6 == 0))
    assert _rows(search_text_index(spark, path, TERMS)) == \
        _scratch(spark, vis1, tmp_path, "s1")
    compact_text_index(spark, path)

    # wave 1: updates (text re-defined) + adds + deletes in ONE delta
    upd = docs.filter(F.col("doc_id") % 12 == 1).select(
        "doc_id", F.concat("text", F.lit(" refreshed copy"))
        .alias("text"))
    upsert_text_index(
        spark, path,
        updates=upd.unionByName(docs.filter(F.col("doc_id") % 6 == 3)),
        delete_ids=docs.filter(F.col("doc_id") % 12 == 2)
        .select("doc_id"),
        tag="u1")
    vis2 = (docs.filter(F.col("doc_id") % 12 != 2)
            .withColumn("text",
                        F.when(F.col("doc_id") % 12 == 1,
                               F.concat("text",
                                        F.lit(" refreshed copy")))
                        .otherwise(F.col("text"))))
    served = _rows(search_text_index(spark, path, TERMS))
    assert served == _scratch(spark, vis2, tmp_path, "s2")

    # compaction must not change a single served value
    assert compact_text_index(spark, path) == 1
    assert _rows(search_text_index(spark, path, TERMS)) == served


def test_update_shadows_and_delete_removes(spark, tmp_path):
    path = os.path.join(str(tmp_path), "tiny")
    corpus = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "alpha gamma"), (3, "beta")],
        "doc_id long, text string")
    build_text_index(corpus, path, n_buckets=4)

    # doc 1 re-defined without 'beta'; doc 3 deleted
    upsert_text_index(
        spark, path,
        updates=spark.createDataFrame([(1, "alpha delta")],
                                      "doc_id long, text string"),
        delete_ids=[3])
    hits = search_text_index(spark, path, ("alpha", "beta", "delta"),
                             k=10)
    got = {(r["term"], r["doc_id"]) for r in hits.collect()}
    assert ("beta", 1) not in got and ("beta", 3) not in got
    assert ("delta", 1) in got and ("alpha", 1) in got
    # df/corpus stats reflect the visible corpus: beta now nowhere,
    # alpha in both live docs, n_docs dropped to 2
    row = hits.filter(F.col("term") == "alpha").head()
    assert row["df"] == 2
    st = text_index_stats(spark, path).head()
    assert st["n_docs_live"] == 2


def test_compaction_resets_delta_debt(spark, tmp_path):
    docs = _docs(spark)
    path = os.path.join(str(tmp_path), "tix")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), path,
                     n_buckets=16)
    for wave in range(3):
        upsert_text_index(
            spark, path,
            updates=docs.filter(F.col("doc_id") % 10 == 2 * wave + 1),
            tag=f"w{wave}")
    st = text_index_stats(spark, path).head()
    assert st["n_deltas"] == 3 and st["n_postings_delta"] > 0
    assert compact_text_index(spark, path) == 3
    st2 = text_index_stats(spark, path).head()
    assert st2["n_deltas"] == 0 and st2["n_postings_delta"] == 0
    assert st2["n_postings_base"] == st2["n_postings_live"]
    assert st2["n_postings_live"] == st["n_postings_live"]
    assert st2["n_docs_live"] == st["n_docs_live"]


def test_tag_contract_survives_compaction(spark, tmp_path):
    docs = _docs(spark)
    path = os.path.join(str(tmp_path), "tix")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    upsert_text_index(spark, path,
                      updates=docs.filter(F.col("doc_id") % 10 == 1),
                      tag="b1")
    assert delta_tags(path) == {"b1"}
    compact_text_index(spark, path)
    # folded tags persist to the applied-tag manifest: a writer
    # re-checking idempotence after compaction still sees b1
    assert "b1" in applied_tags(path)
    assert delta_tags(path) == set()


def test_unmarked_delta_stage_is_invisible(spark, tmp_path):
    docs = _docs(spark)
    path = os.path.join(str(tmp_path), "tix")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    build_text_index(base, path, n_buckets=16)
    before = _rows(search_text_index(spark, path, TERMS))
    # a crashed upsert: stage dir present, no _DELTA_OK, never renamed
    stage = os.path.join(path, "deltas", ".stage-deadbeef")
    os.makedirs(stage)
    with open(os.path.join(stage, "junk"), "w") as f:
        f.write("x")
    assert _rows(search_text_index(spark, path, TERMS)) == before
    st = text_index_stats(spark, path).head()
    assert st["n_deltas"] == 0


def test_pure_delete_delta_and_empty_updates(spark, tmp_path):
    path = os.path.join(str(tmp_path), "tiny")
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha"), (3, "gamma alpha")],
        "doc_id long, text string")
    build_text_index(corpus, path, n_buckets=4)
    # pure-delete generation (no postings/docs dirs inside)
    upsert_text_index(spark, path, delete_ids=[2])
    # empty-updates generation must not poison later reads
    upsert_text_index(
        spark, path,
        updates=spark.createDataFrame([], "doc_id long, text string"))
    hits = search_text_index(spark, path, ("alpha",), k=10)
    assert {r["doc_id"] for r in hits.collect()} == {1, 3}
    assert hits.head()["df"] == 2
    st = text_index_stats(spark, path).head()
    assert st["n_docs_live"] == 2 and st["n_deltas"] == 2
    compact_text_index(spark, path)
    assert {r["doc_id"]
            for r in search_text_index(spark, path, ("alpha",), k=10)
            .collect()} == {1, 3}


def test_zero_token_docs_carry_corpus_weight(spark, tmp_path):
    """A doc whose text tokenizes to nothing has no postings but
    still counts in N — BM25 idf must see it, exactly as the batch
    query's corpus CTE does."""
    path = os.path.join(str(tmp_path), "tiny")
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "  "), (3, "alpha")],
        "doc_id long, text string")
    build_text_index(corpus, path, n_buckets=4)
    hits = search_text_index(spark, path, ("alpha",), k=10)
    st = text_index_stats(spark, path).head()
    assert st["n_docs_live"] == 3
    # n_docs=3 flows into the score: (2N-2df+1)=3 with df=2
    r = hits.filter(F.col("doc_id") == 3).head()
    assert r["df"] == 2 and r["dl"] == 1


def test_streaming_sink_idempotence_and_binding_guard(spark, tmp_path):
    """The foreachBatch sink contract (streaming/text_index_ingest):
    a retried batch tag is a no-op, and a checkpoint that restarts
    behind the index's absorbed batches fails fast."""
    import pytest

    from flink_precisely_demo_spark.streaming.text_index_ingest import (
        text_index_sink,
    )

    path = os.path.join(str(tmp_path), "tiny")
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha")],
        "doc_id long, text string")
    build_text_index(corpus, path, n_buckets=4)
    sink = text_index_sink(path)
    b1 = spark.createDataFrame([(3, "gamma alpha", "U")],
                               "doc_id long, text string, op string")
    sink(b1, 1)
    n1 = text_index_stats(spark, path).head()["n_deltas"]
    sink(b1, 1)                          # foreachBatch retry: no-op
    assert text_index_stats(spark, path).head()["n_deltas"] == n1 == 1
    with pytest.raises(RuntimeError, match="does not belong"):
        sink(b1, 0)                      # stale checkpoint guard
    # delete through the sink, then scheduled compaction folds it
    sink2 = text_index_sink(path, compact_every=2)
    b2 = spark.createDataFrame([(2, None, "D")],
                               "doc_id long, text string, op string")
    sink2(b2, 2)
    st = text_index_stats(spark, path).head()
    assert st["n_deltas"] == 0           # compact_every=2 fired
    hits = search_text_index(spark, path, ("alpha",), k=10)
    assert {r["doc_id"] for r in hits.collect()} == {1, 3}
    from flink_precisely_demo_spark.operators.lsm import (
        applied_tags as _at,
    )
    assert _at(path) >= {"b1", "b2"}     # tags survive the fold


def test_doc_ranking_equals_scratch_and_sums_terms(spark, tmp_path):
    """search_text_index_docs: summed-BM25 doc ranking from aged
    state equals a from-scratch build, and each doc's total is the
    exact-decimal sum of its per-term scores."""
    from decimal import Decimal

    from flink_precisely_demo_spark.operators.text_index import (
        search_text_index_docs,
    )

    docs = _docs(spark)
    path = os.path.join(str(tmp_path), "tix")
    build_text_index(docs.filter(F.col("doc_id") % 3 != 0), path,
                     n_buckets=16)
    upsert_text_index(spark, path,
                      updates=docs.filter(F.col("doc_id") % 3 == 0),
                      delete_ids=docs.filter(F.col("doc_id") % 12 == 2)
                      .select("doc_id"),
                      tag="u0")
    served = _rows(search_text_index_docs(spark, path, TERMS, k=10))
    scratch_p = os.path.join(str(tmp_path), "scratch")
    build_text_index(docs.filter(F.col("doc_id") % 12 != 2), scratch_p,
                     n_buckets=16)
    assert served == _rows(
        search_text_index_docs(spark, scratch_p, TERMS, k=10))

    # cross-check the decimal accumulation against the per-term view
    per_term = search_text_index(spark, path, TERMS, k=10**9)
    by_doc = {}
    for r in per_term.collect():
        d = by_doc.setdefault(r["doc_id"], [Decimal(0), 0])
        # quantize exactly as decimal(28,6) accumulation does
        d[0] += Decimal(repr(r["score"])).quantize(Decimal("0.000001"))
        d[1] += 1
    for doc_id, n_terms, score, rank in served:
        want_total, want_n = by_doc[doc_id]
        assert n_terms == want_n
        assert abs(float(want_total) - score) < 1e-6


def test_phrase_counts_overlaps_and_reconciliation(spark, tmp_path):
    """search_text_index_phrase: exact occurrence counts including
    OVERLAPPING repeats (the substring-counting trap), served through
    LSM shadowing and tombstones; non-positional indexes refuse."""
    import pytest

    from flink_precisely_demo_spark.operators.text_index import (
        search_text_index_phrase,
    )

    corpus = spark.createDataFrame(
        [(1, "b b b a c"), (2, "a c a c"), (3, "b a c b")],
        "doc_id long, text string")
    path = os.path.join(str(tmp_path), "tix")
    build_text_index(corpus, path, n_buckets=4, positions=True)
    got = {(r["phrase"], r["doc_id"]): r["n_occurrences"]
           for r in search_text_index_phrase(
               spark, path, ["b b", "a c", "a c a"]).collect()}
    assert got == {("b b", 1): 2,            # overlap: b b b -> 2
                   ("a c", 1): 1, ("a c", 2): 2, ("a c", 3): 1,
                   ("a c a", 2): 1}

    # doc 1 re-defined without the phrase, doc 3 deleted
    upsert_text_index(
        spark, path,
        updates=spark.createDataFrame([(1, "a c x")],
                                      "doc_id long, text string"),
        delete_ids=[3])
    got2 = {(r["phrase"], r["doc_id"]): r["n_occurrences"]
            for r in search_text_index_phrase(
                spark, path, ["b b", "a c"]).collect()}
    assert got2 == {("a c", 1): 1, ("a c", 2): 2}

    # compaction keeps the positional payload
    compact_text_index(spark, path)
    got3 = {(r["phrase"], r["doc_id"]): r["n_occurrences"]
            for r in search_text_index_phrase(
                spark, path, ["a c"]).collect()}
    assert got3 == {("a c", 1): 1, ("a c", 2): 2}

    # a plain index refuses phrase queries with a typed error
    plain = os.path.join(str(tmp_path), "plain")
    build_text_index(corpus, plain, n_buckets=4)
    with pytest.raises(ValueError, match="positions=True"):
        search_text_index_phrase(spark, plain, ["a c"])


def test_snippets_window_clipping_shadowing_and_refusal(spark, tmp_path):
    """search_text_index_snippets: fixed-length window around the
    first occurrence with left/right clipping, stored text follows
    LSM shadowing, and a text-less index refuses with a typed
    error."""
    import pytest

    from flink_precisely_demo_spark.operators.text_index import (
        search_text_index_snippets,
    )

    corpus = spark.createDataFrame(
        [(1, "x1 x2 x3 a c x4 x5 x6 x7 x8"),
         (2, "a c start of doc"),
         (3, "end of doc a c")],
        "doc_id long, text string")
    path = os.path.join(str(tmp_path), "tix")
    build_text_index(corpus, path, n_buckets=4, positions=True,
                     store_text=True)
    got = {r["doc_id"]: (r["first_pos"], r["snippet"])
           for r in search_text_index_snippets(
               spark, path, ["a c"], context=2).collect()}
    assert got == {1: (3, "x2 x3 a c x4 x5"),
                   2: (0, "a c start of doc"),   # left clip keeps length
                   3: (3, "of doc a c")}         # right clip at doc end

    # stored text shadows under upsert — the snippet reads wave-1 text
    upsert_text_index(spark, path,
                      updates=spark.createDataFrame(
                          [(2, "zz a c yy")],
                          "doc_id long, text string"))
    got2 = {r["doc_id"]: r["snippet"]
            for r in search_text_index_snippets(
                spark, path, ["a c"], context=2).collect()}
    assert got2[2] == "zz a c yy"
    compact_text_index(spark, path)
    got3 = {r["doc_id"]: r["snippet"]
            for r in search_text_index_snippets(
                spark, path, ["a c"], context=2).collect()}
    assert got3 == got2

    plain = os.path.join(str(tmp_path), "plain")
    build_text_index(corpus, plain, n_buckets=4, positions=True)
    with pytest.raises(ValueError, match="store_text=True"):
        search_text_index_snippets(spark, plain, ["a c"])
