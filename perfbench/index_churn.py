"""Workload ``index_churn``: a maintained BM25 text index under writes and
reads (``operators.text_index``) over the sf0.1 ``documents`` table.

Set-up, three times: ``build_text_index`` over the corpus into a fresh
path; ``setup_s`` is the median and the last index is the one churned.

The measured loop runs whole generations until ``--seconds`` of index
work have passed. One generation is one seeded ``upsert_text_index``
batch (``UPDATES_PER_GEN`` documents re-defined or re-added, plus
``DELETES_PER_GEN`` deletes), ``compact_text_index`` after every
``COMPACT_EVERY``-th batch, then ``SEARCHES_PER_GEN`` seeded
``search_text_index`` BM25 top-``TOPK`` queries. ``throughput_per_s`` is
documents written (updates + deletes) per second of upsert and
compaction time; the latencies are per search.

Every search is checked against a DuckDB BM25 over the documents visible
at that moment, with the exact-integer formula of
``text_index.bm25_exact_score``; the check is outside the timed region.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from .datagen import VOCAB
from .harness import median, quantile, tail_percentile

SETUP_REPS = 3
UPDATES_PER_GEN = 200
DELETES_PER_GEN = 50
COMPACT_EVERY = 3
SEARCHES_PER_GEN = 2
TERMS_PER_SEARCH = 3
TOPK = 10
# words absent from the base corpus that upserts introduce, so searches
# also meet terms whose postings live only in delta generations
FRESH_WORDS = [f"fresh{i}" for i in range(8)]

_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"

_BM25_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM vis),
corpus AS (SELECT COUNT(*) AS n_docs,
                  CAST(SUM(len(toks)) AS BIGINT) AS total_toks FROM t),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(ANY_VALUE(dl) AS BIGINT) AS dl
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
  WHERE term IN (SELECT term FROM terms)
  GROUP BY doc_id, term),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, tf.dl,
         CAST((2 * c.n_docs - 2 * df.df + 1) * 22 * tf.tf * c.total_toks
              AS DOUBLE)
         / CAST((2 * df.df + 1) * (10 * tf.tf * c.total_toks
                + 3 * c.total_toks + 9 * tf.dl * c.n_docs) AS DOUBLE)
           AS score
  FROM tf JOIN df USING (term) CROSS JOIN corpus c)
SELECT term, doc_id, tf, df, dl, round(score, 6) AS score,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY score DESC, doc_id) AS rank
      FROM scored)
WHERE rank <= {TOPK}
"""


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _expected(con, visible: dict[int, str], terms: list[str]) -> set:
    con.register("vis", pa.table({"doc_id": list(visible),
                                  "text": list(visible.values())}))
    con.register("terms", pa.table({"term": terms}))
    return {tuple(r) for r in con.execute(_BM25_SQL).fetchall()}


def run(ctx) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.operators.text_index import (
        build_text_index,
        compact_text_index,
        search_text_index,
        upsert_text_index,
    )
    from flink_precisely_demo_spark.sources.parquet import load_table

    spark, tracer = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    visible = dict(zip(docs["doc_id"], docs["text"]))
    all_ids = sorted(visible)
    corpus = load_table(spark, ctx.sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("text").isNotNull())

    setup_times = []
    for rep in range(SETUP_REPS):
        path = ctx.dirs.path(f"index{rep}")
        with tracer.span("setup") as sp:
            build_text_index(corpus, path)
        setup_times.append(sp.seconds)
    words = VOCAB + FRESH_WORDS
    con = duckdb.connect()

    upsert_s, compact_s, search_s = [], [], []
    search_windows = []
    written_docs = 0
    bytes_written = 0
    gens_since_compact = gens_max = 0
    wrong = attempted = 0
    busy = build_s = 0.0
    with tracer.span("measure") as measure:
        while busy < ctx.seconds:
            live = sorted(visible)
            upd_ids = rng.sample(all_ids, UPDATES_PER_GEN)
            upd_set = set(upd_ids)
            dels = rng.sample([i for i in live if i not in upd_set],
                              DELETES_PER_GEN)
            updates = [(i, " ".join(rng.choice(words)
                                    for _ in range(rng.randint(8, 90))))
                       for i in upd_ids]
            before = _dir_bytes(path)
            with tracer.span("index.upsert") as sp:
                upsert_text_index(
                    spark, path,
                    updates=spark.createDataFrame(
                        updates, "doc_id long, text string"),
                    delete_ids=dels)
            upsert_s.append(sp.seconds)
            bytes_written += _dir_bytes(path) - before
            attempted += 1
            for i, text in updates:
                visible[i] = text
            for i in dels:
                del visible[i]
            written_docs += len(updates) + len(dels)
            gens_since_compact += 1
            gens_max = max(gens_max, gens_since_compact)
            if gens_since_compact == COMPACT_EVERY:
                with tracer.span("index.compact") as sp:
                    compact_text_index(spark, path)
                compact_s.append(sp.seconds)
                bytes_written += _dir_bytes(path)
                gens_since_compact = 0
            for _ in range(SEARCHES_PER_GEN):
                terms = rng.sample(words, TERMS_PER_SEARCH)
                with tracer.span("index.search") as sp:
                    with tracer.span("plans.build") as b:
                        df = search_text_index(spark, path, terms, k=TOPK)
                    got = {tuple(r) for r in df.collect()}
                build_s += b.seconds
                search_s.append(sp.seconds)
                search_windows.append((sp.start * 1000, sp.end * 1000))
                attempted += 1
                with tracer.span("check"):
                    if got != _expected(con, visible, terms):
                        wrong += 1
            busy = sum(upsert_s) + sum(compact_s) + sum(search_s)
    con.close()

    lat_ms = [1000.0 * s for s in search_s]
    layers = {
        "index.upsert_ms_p50": 1000.0 * median(upsert_s),
        "index.compact_ms_p50": (1000.0 * median(compact_s)
                                 if compact_s else 0.0),
        "index.generations_max": float(gens_max),
        "index.bytes_written_per_doc": bytes_written / written_docs,
        "index.disk_bytes_per_live_doc": _dir_bytes(path) / len(visible),
        "plans.build_ms_total": 1000.0 * build_s,
    }

    def search_tasks(log_path: str) -> dict[str, float]:
        from .eventlog import task_windows_count
        return {"index.search_tasks_p50": median(
            task_windows_count(log_path, search_windows))}

    return {
        "attempted": attempted,
        "failed": wrong,
        "setup_s": median(setup_times),
        "throughput_per_s": written_docs / (sum(upsert_s) + sum(compact_s)),
        "latency_ms_p50": quantile(lat_ms, 0.5),
        "latency_ms_tail": tail_percentile(lat_ms),
        "windows_ms": [(measure.start * 1000, measure.end * 1000)],
        "layers": layers,
        "event_log_layers": search_tasks,
        "detail": {"generations": len(upsert_s), "searches": len(search_s),
                   "compactions": len(compact_s),
                   "searches_wrong": wrong, "setup_runs_s": setup_times},
    }
