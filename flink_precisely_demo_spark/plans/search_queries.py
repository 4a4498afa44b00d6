"""Corpus search scoring + dataset profiling (SURVEY.md §2.3 scope).

Two capabilities a training-data platform runs constantly:

- :data:`text_bm25_term_scores` — BM25 relevance of every document
  against a keyword set (corpus search, targeted-contamination
  probes, "find me docs about X" curation pulls). The scoring is the
  standard Okapi BM25 per-term form (k1=1.2, b=0.75) computed in
  EXACT INTEGER ARITHMETIC: every factor (tf, df, dl, N, total
  tokens) is integer-derived, and with k1=6/5, b=3/4 the whole
  per-term score reduces to one BIGINT ratio —
  ``num = (2N-2df+1) * 22 * tf * total`` over
  ``den = (2df+1) * (10*tf*total + 3*total + 9*dl*N)`` — so both
  engines produce the bit-identical double from a single IEEE
  division. The idf is the rational Robertson form
  (N-df+0.5)/(df+0.5) WITHOUT the log: transcendentals are
  implementation-defined in the last ulp across engines (the
  text_tfidf lesson), while +,*,/ on identical operands are not.
  BIGINT range: num < 2^63 up to ~1e8 docs / 1e12 tokens; beyond
  that switch the two products to DECIMAL(38,0).

- :data:`table_profile_orders` — single-pass column profiler (null
  count, exact distinct count, min/max) over the orders table: the
  data-quality report run before any pipeline trusts an input drop.
  One scan; the multi-column exact COUNT(DISTINCT) is Spark's expand
  strategy (one shuffle carrying a 6-way expansion), the standard
  trade for exactness — production swaps approx_count_distinct into
  the same shape when 2% error is acceptable.

No counterpart in the reference (extension scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .queries import query
from .text_queries import _TOKS
from ..scratch import scratch_dir

# Fixed keyword set for the oracle-checked query (the operator works
# for any term list); chosen from the corpus vocabulary so every term
# has real df/tf variation.
QUERY_TERMS = ("spark", "window", "merge", "stream", "scan")
_TOPK = 5


def _terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in QUERY_TERMS)


@query(
    "text_bm25_term_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
      WHERE text IS NOT NULL
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS total_toks
      FROM t
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(ANY_VALUE(dl) AS BIGINT) AS dl
      FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
      WHERE term IN ({_terms_sql()})
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df, tf.dl,
             CAST((2 * c.n_docs - 2 * df.df + 1) * 22 * tf.tf
                  * c.total_toks AS DOUBLE)
             / CAST((2 * df.df + 1)
                    * (10 * tf.tf * c.total_toks + 3 * c.total_toks
                       + 9 * tf.dl * c.n_docs) AS DOUBLE) AS score
      FROM tf JOIN df USING (term) CROSS JOIN corpus c
    )
    SELECT term, doc_id, tf, df, dl, round(score, 6) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY term ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOPK}
    """,
)
def _text_bm25_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOPK} documents per query term by Okapi BM25 (k1=1.2,
    b=0.75), exact-integer formulation (module docstring). Plan
    shape: tokenize -> explode filtered to the query terms BEFORE the
    (doc, term) aggregation, so the only corpus-sized shuffle carries
    query-term hits, not the whole vocabulary; df and the corpus
    totals are term-/scalar-sized and broadcast. The final per-term
    top-k is a {len(QUERY_TERMS)}-partition window — at extreme
    corpus scale swap in the local-partial-top-k merge (the
    similarity.py pattern); ordering is deterministic because the
    score double is one IEEE division of two exact BIGINTs,
    tie-broken on doc_id."""
    from ..functions.text import tokens
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents") \
        .filter(F.col("text").isNotNull())
    t = d.select("doc_id", tokens("text").alias("toks"))
    corpus = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("total_toks"))
    hits = (t.select("doc_id", F.size("toks").cast("long").alias("dl"),
                     F.explode("toks").alias("term"))
             .filter(F.col("term").isin(*QUERY_TERMS)))
    tf = (hits.groupBy("doc_id", "term")
              .agg(F.count(F.lit(1)).cast("long").alias("tf"),
                   F.first("dl").alias("dl")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (tf.join(F.broadcast(df_), "term")
                .crossJoin(F.broadcast(corpus))
                .select(
                    "term", "doc_id", "tf", "df", "dl",
                    ((2 * F.col("n_docs") - 2 * F.col("df") + 1)
                     * 22 * F.col("tf") * F.col("total_toks"))
                    .cast("double").alias("num"),
                    ((2 * F.col("df") + 1)
                     * (10 * F.col("tf") * F.col("total_toks")
                        + 3 * F.col("total_toks")
                        + 9 * F.col("dl") * F.col("n_docs")))
                    .cast("double").alias("den"))
                .withColumn("score", F.col("num") / F.col("den")))
    w = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= _TOPK)
                  .select("term", "doc_id", "tf", "df", "dl",
                          F.round("score", 6).alias("score"),
                          F.col("rank").cast("long").alias("rank")))


# ---------------------------------------------------------------- profiler

_PROFILE_COLS = [
    # (name, kind): numeric min/max -> min_num/max_num as double;
    # string lexicographic min/max -> min_str/max_str; timestamp
    # formatted to a fixed zero-padded layout (identical in Spark
    # date_format and DuckDB strftime) to dodge engine tz/rendering.
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _profile_oracle() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"CAST(MIN({name}) AS DOUBLE)"
            mx = f"CAST(MAX({name}) AS DOUBLE)"
            ms = mxs = "CAST(NULL AS VARCHAR)"
        elif kind == "str":
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms, mxs = f"MIN({name})", f"MAX({name})"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
            ms = f"strftime(MIN({name}), '{_TS_FMT_DUCK}')"
            mxs = f"strftime(MAX({name}), '{_TS_FMT_DUCK}')"
        parts.append(f"""
        SELECT '{name}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
               {mn} AS min_num, {mx} AS max_num,
               {ms} AS min_str, {mxs} AS max_str
        FROM orders""")
    return " UNION ALL ".join(parts)


@query("table_profile_orders", oracle=_profile_oracle())
def _table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass exact column profile of the orders table: one row
    per column with null count, exact distinct count, and typed
    min/max.

    Shape: each row explodes into one (cid, val_str, val_num) pair
    per column, then TWO hash aggregations — (cid, value) distinct,
    then per-cid stats. This deliberately avoids both the naive
    per-column-scan union AND Spark's multi-distinct Expand rewrite:
    the Expand form pulls min/max(string) into the same aggregate,
    and string buffers are not HashAggregate-capable, so the whole
    6x-expanded fact falls back to SortAggregate — a full sort of
    every expanded row (measured 3.1 s vs 0.55 s at sf0.1). Here the
    fact-sized stages are pure hash; the only sort-based aggregate
    runs over the already-deduplicated (cid, value) rows. Numeric
    min/max ride a double channel (hash-capable); string/timestamp
    min/max come from the value column itself (timestamps rendered
    to a fixed zero-padded layout, so lexicographic = chronological
    and the comparison dodges engine rendering)."""
    o = load_table(spark, sf_dir, "orders")
    null_d = F.lit(None).cast("double")
    structs = []
    for i, (name, kind) in enumerate(_PROFILE_COLS):
        if kind == "num":
            val_str = F.col(name).cast("string")
            val_num = F.col(name).cast("double")
        elif kind == "str":
            val_str = F.col(name)
            val_num = null_d
        else:
            val_str = F.date_format(F.col(name), _TS_FMT_SPARK)
            val_num = null_d
        structs.append(F.struct(F.lit(i).alias("cid"),
                                val_str.alias("val_str"),
                                val_num.alias("val_num")))
    pairs = o.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
    # stage 1: collapse to distinct (cid, value); val_num is
    # functionally determined by the key, so first() is deterministic
    stage1 = (pairs.groupBy("cid", "val_str")
                   .agg(F.count(F.lit(1)).alias("cnt"),
                        F.first("val_num").alias("val_num")))
    # stage 2: per-column stats over the deduped values (small input;
    # the string min/max's sort-aggregate fallback is cheap here)
    stage2 = stage1.groupBy("cid").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("val_str").isNull(), F.col("cnt"))
               .otherwise(0)).cast("long").alias("n_null"),
        F.count(F.when(F.col("val_str").isNotNull(), 1)).cast("long")
         .alias("n_distinct"),
        F.min("val_num").alias("min_num"),
        F.max("val_num").alias("max_num"),
        F.min("val_str").alias("mn_str"),
        F.max("val_str").alias("mx_str"))
    names = F.array(*[F.lit(n) for n, _ in _PROFILE_COLS])
    is_num = F.array(*[F.lit(k == "num") for _, k in _PROFILE_COLS])
    numeric = F.element_at(is_num, F.col("cid") + 1)
    return stage2.select(
        F.element_at(names, F.col("cid") + 1).alias("column_name"),
        "n_rows", "n_null", "n_distinct", "min_num", "max_num",
        F.when(~numeric, F.col("mn_str")).alias("min_str"),
        F.when(~numeric, F.col("mx_str")).alias("max_str"))


# ------------------------------------------------- maintained text index

# Final visible corpus after the maintenance fixture below: base
# (doc_id % 3 != 0) + wave-0 adds (% 6 == 0) + wave-1 adds (% 6 == 3)
# is every non-null-text document; wave 1 also re-defines % 12 == 1
# docs' text and deletes % 12 == 2 — so the served state must equal a
# from-scratch build over exactly this CTE, and BM25 over it is the
# SAME oracle arithmetic as text_bm25_term_scores on a shifted corpus.
_VIS_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 12 = 1 THEN text || ' refreshed copy'
                  ELSE text END AS text
      FROM documents
      WHERE text IS NOT NULL AND doc_id % 12 <> 2
"""

_TEXT_INDEX_CACHE: dict[str, str] = {}


def _text_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture for the maintained inverted index
    (operators/text_index.py): base build over doc_id % 3 != 0, an
    adds-only delta (% 6 == 0, tag u0), a COMPACTION, then one mixed
    delta (updates % 12 == 1 with re-defined text + adds % 6 == 3 +
    deletes % 12 == 2, tag u1) left unfolded — so the served queries
    reconcile base + tombstoned delta state, not a fresh build.
    One LSM base publish (operators/lsm.py): a published root is by
    construction the fully-maintained end state."""
    import os
    import re
    import tempfile

    from ..operators.lsm import (applied_tags, delta_tags, index_ok,
                                 publish_base)
    from ..operators.text_index import (build_text_index,
                                        compact_text_index, manifest,
                                        upsert_text_index)

    cached = _TEXT_INDEX_CACHE.get(sf_dir)
    if cached is None:
        slug = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
        path = os.path.join(tempfile.gettempdir(), f"text_index_{slug}")
        done = (index_ok(path)
                and (applied_tags(path) | delta_tags(path))
                >= {"u0", "u1"}
                and manifest(path).get("positions", False)
                and manifest(path).get("store_text", False))
        if not done:
            def write(stage: str) -> None:
                docs = (load_table(spark, sf_dir, "documents")
                        .select("doc_id", "text")
                        .filter(F.col("text").isNotNull()))
                build_text_index(docs.filter(F.col("doc_id") % 3 != 0),
                                 stage, positions=True, store_text=True)
                upsert_text_index(
                    spark, stage,
                    updates=docs.filter(F.col("doc_id") % 6 == 0),
                    tag="u0")
                compact_text_index(spark, stage)
                upd = docs.filter(F.col("doc_id") % 12 == 1).select(
                    "doc_id", F.concat("text", F.lit(" refreshed copy"))
                    .alias("text"))
                upsert_text_index(
                    spark, stage,
                    updates=upd.unionByName(
                        docs.filter(F.col("doc_id") % 6 == 3)),
                    delete_ids=docs.filter(F.col("doc_id") % 12 == 2)
                    .select("doc_id"),
                    tag="u1")

            publish_base(path, write)
        _TEXT_INDEX_CACHE[sf_dir] = path
    return _TEXT_INDEX_CACHE[sf_dir]


# shared by the batch pair (uncompacted reconciling read) and the
# streaming-ingest twin (post-compaction base read): both fixtures
# converge on the same visible corpus, so one oracle pins both ends
# of the LSM read lifecycle.
_INDEX_TOPK_ORACLE = f"""
    WITH vis AS ({_VIS_SQL}),
    t AS (
      SELECT doc_id, {_TOKS} AS toks FROM vis
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS total_toks
      FROM t
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(ANY_VALUE(dl) AS BIGINT) AS dl
      FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
      WHERE term IN ({_terms_sql()})
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df, tf.dl,
             CAST((2 * c.n_docs - 2 * df.df + 1) * 22 * tf.tf
                  * c.total_toks AS DOUBLE)
             / CAST((2 * df.df + 1)
                    * (10 * tf.tf * c.total_toks + 3 * c.total_toks
                       + 9 * tf.dl * c.n_docs) AS DOUBLE) AS score
      FROM tf JOIN df USING (term) CROSS JOIN corpus c
    )
    SELECT term, doc_id, tf, df, dl, round(score, 6) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY term ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOPK}
    """


@query("search_index_topk", oracle=_INDEX_TOPK_ORACLE)
def _search_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{_TOPK} per query term SERVED FROM MAINTAINED STATE
    (operators/text_index.py): the corpus postings live as an LSM
    inverted index driven through build -> adds delta -> compaction
    -> mixed update/add/delete delta, and the query reconciles base
    + tombstoned delta generations at read time. The oracle is the
    from-scratch exact-integer BM25 over the final visible corpus —
    served results must be bit-identical to a full re-scan, which
    pins the reconciliation rule (later-generation tombstones shadow
    every older row), the derived-not-stored df/corpus stats, and
    the shared scoring arithmetic in one hash.

    Scale: the postings read prunes to the query terms' hash-bucket
    partitions on every generation; df aggregates only those rows;
    N/total_tokens is one narrow agg over doc-count-sized docs/
    frames; upsert cost was batch-proportional and historical text
    is never re-tokenized."""
    from ..operators.text_index import search_text_index

    path = _text_index_path(spark, sf_dir)
    return search_text_index(spark, path, QUERY_TERMS, k=_TOPK)


@query(
    "search_index_health",
    oracle=f"""
    WITH vis AS ({_VIS_SQL}),
    base_docs AS (
      -- state folded by the compaction after wave u0
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL
        AND (doc_id % 3 <> 0 OR doc_id % 6 = 0)
    ),
    delta_docs AS (
      -- wave u1's generation rows: re-defined texts + adds
      SELECT doc_id, text || ' refreshed copy' AS text
      FROM documents WHERE text IS NOT NULL AND doc_id % 12 = 1
      UNION ALL
      SELECT doc_id, text
      FROM documents WHERE text IS NOT NULL AND doc_id % 6 = 3
    ),
    post AS (SELECT s.doc_id, unnest({_TOKS.replace("text", "s.text")})
                    AS term
             FROM vis s),
    postings_live AS (
      SELECT COUNT(*) AS n FROM (SELECT DISTINCT doc_id, term FROM post)
    ),
    postings_base AS (
      SELECT COUNT(*) AS n FROM (
        SELECT DISTINCT b.doc_id, unnest({_TOKS.replace("text", "b.text")})
               AS term
        FROM base_docs b)
    ),
    postings_delta AS (
      SELECT COUNT(*) AS n FROM (
        SELECT DISTINCT d.doc_id, unnest({_TOKS.replace("text", "d.text")})
               AS term
        FROM delta_docs d)
    )
    SELECT (SELECT COUNT(*) FROM vis) AS n_docs_live,
           (SELECT n FROM postings_live) AS n_postings_live,
           (SELECT n FROM postings_base) AS n_postings_base,
           (SELECT n FROM postings_delta) AS n_postings_delta,
           (SELECT COUNT(DISTINCT term) FROM post) AS n_terms_live,
           CAST(1 AS BIGINT) AS n_deltas
    """,
)
def _search_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained inverted index's one-row health frame
    (operators/text_index.text_index_stats): live/base/delta posting
    counts, live vocabulary size, and outstanding delta generations
    — the compaction-debt numbers a serving deployment alerts on.
    The oracle recomputes every number from the fixture's documented
    maintenance history (base-after-compaction = waves through u0;
    one unfolded mixed delta), so a drift in what compaction folds,
    what a delta physically carries, or what reconciliation serves
    breaks the hash."""
    from ..operators.text_index import text_index_stats

    path = _text_index_path(spark, sf_dir)
    return text_index_stats(spark, path)


_STREAM_TEXT_INDEX_CACHE: dict[str, str] = {}


def _stream_text_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Streaming twin of :func:`_text_index_path`: the same base
    build over doc_id % 3 != 0, but both maintenance waves arrive as
    a 2-trigger document-mutation STREAM (mtime-pinned files,
    maxFilesPerTrigger=1) drained through the foreachBatch sink
    (streaming/text_index_ingest.py) with ``compact_every=2`` — so
    the final state is a COMPACTED base (0 deltas) whose
    applied-batch manifest records both triggers; that end state is
    deterministic, making the dir reusable across processes."""
    import os
    import re
    import shutil
    import tempfile

    from ..operators.lsm import (applied_tags, generations, index_ok,
                                 publish_base)
    from ..operators.text_index import build_text_index
    from ..streaming.replay_stage import stage_trigger_files
    from ..streaming.text_index_ingest import run_text_index_ingest

    cached = _STREAM_TEXT_INDEX_CACHE.get(sf_dir)
    if cached is None:
        slug = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
        path = os.path.join(tempfile.gettempdir(),
                            f"text_sindex_{slug}")
        done = (index_ok(path) and not generations(path)
                and applied_tags(path) >= {"b0", "b1"})
        if not done:
            def write(stage: str) -> None:
                docs = (load_table(spark, sf_dir, "documents")
                        .select("doc_id", "text")
                        .filter(F.col("text").isNotNull()))
                build_text_index(docs.filter(F.col("doc_id") % 3 != 0),
                                 stage)
                # trigger 0: wave-u0 adds; trigger 1: re-defined texts
                # + adds + takedowns — the exact batch-fixture waves as
                # a mutation stream (op D rows carry no text)
                muts = (docs.filter(F.col("doc_id") % 6 == 0)
                        .select("doc_id", "text", F.lit("U").alias("op"),
                                F.lit(0).alias("b"))
                        .unionByName(
                            docs.filter(F.col("doc_id") % 12 == 1)
                            .select("doc_id",
                                    F.concat("text",
                                             F.lit(" refreshed copy"))
                                    .alias("text"),
                                    F.lit("U").alias("op"),
                                    F.lit(1).alias("b")))
                        .unionByName(
                            docs.filter(F.col("doc_id") % 6 == 3)
                            .select("doc_id", "text",
                                    F.lit("U").alias("op"),
                                    F.lit(1).alias("b")))
                        .unionByName(
                            docs.filter(F.col("doc_id") % 12 == 2)
                            .select("doc_id",
                                    F.lit(None).cast("string")
                                    .alias("text"),
                                    F.lit("D").alias("op"),
                                    F.lit(1).alias("b"))))
                work = scratch_dir(prefix="text_index_replay_")
                try:
                    feed_dir = stage_trigger_files(muts, work,
                                                   F.col("b"), "mutations")
                    feed = (spark.readStream
                            .schema("doc_id long, text string, op string,"
                                    " b int")
                            .option("maxFilesPerTrigger", 1)
                            .parquet(feed_dir))
                    run_text_index_ingest(
                        feed, stage,
                        checkpoint=os.path.join(work, "ckpt"),
                        compact_every=2)
                finally:
                    shutil.rmtree(work, ignore_errors=True)

            publish_base(path, write)
        _STREAM_TEXT_INDEX_CACHE[sf_dir] = path
    return _STREAM_TEXT_INDEX_CACHE[sf_dir]


@query("streaming_search_index_replay", oracle=_INDEX_TOPK_ORACLE)
def _streaming_search_index_replay(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Streaming maintenance of the served inverted index
    (streaming/text_index_ingest.py) proven end-to-end: the two
    maintenance waves arrive as a 2-trigger document-mutation stream,
    each micro-batch becomes one tagged delta generation through the
    foreachBatch sink, and ``compact_every=2`` triggers the scheduled
    compaction — so THIS pair serves BM25 from the POST-COMPACTION
    base while its batch twin ``search_index_topk`` serves the
    uncompacted reconciling path, and both must hash-match the SAME
    from-scratch oracle over the visible corpus (both ends of the
    LSM read lifecycle under one driver check). Retry idempotence,
    the checkpoint/store binding guard, and tag survival across
    compaction are pinned by tests/test_text_index.py.

    Scale: per trigger the sink's work is batch-sized (one tokenize
    pass + bucket-partitioned write); compaction is one reconciled
    scan + re-laid-out rewrite, amortized across ``compact_every``
    triggers."""
    from ..operators.text_index import search_text_index

    path = _stream_text_index_path(spark, sf_dir)
    return search_text_index(spark, path, QUERY_TERMS, k=_TOPK)


@query(
    "search_index_doc_topk",
    oracle=f"""
    WITH vis AS ({_VIS_SQL}),
    t AS (
      SELECT doc_id, {_TOKS} AS toks FROM vis
    ),
    corpus AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(toks)) AS BIGINT) AS total_toks
      FROM t
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(ANY_VALUE(dl) AS BIGINT) AS dl
      FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
      WHERE term IN ({_terms_sql()})
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST((2 * c.n_docs - 2 * df.df + 1) * 22 * tf.tf
                  * c.total_toks AS DOUBLE)
             / CAST((2 * df.df + 1)
                    * (10 * tf.tf * c.total_toks + 3 * c.total_toks
                       + 9 * tf.dl * c.n_docs) AS DOUBLE) AS score
      FROM tf JOIN df USING (term) CROSS JOIN corpus c
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
               AS total
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms, round(total, 6) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY total DESC, doc_id) AS rank
      FROM per_doc
    ) WHERE rank <= 10
    """,
)
def _search_index_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-query document ranking served from the maintained index
    (operators/text_index.search_text_index_docs): top-10 visible
    docs by SUMMED per-term BM25 over the query terms (disjunctive
    retrieval — the ranking a search deployment actually serves,
    where ``search_index_topk`` is the per-term diagnostic view).
    The cross-term sum is exact decimal accumulation (the sum_exact
    house rule), so the ranking is order-independent and the oracle
    — the same maintenance-history corpus, summed in SQL decimal —
    hash-matches bit-exactly.

    Scale: same pruned postings read as the per-term pair; the extra
    doc-keyed agg runs over query-term hit rows only."""
    from ..operators.text_index import search_text_index_docs

    path = _text_index_path(spark, sf_dir)
    return search_text_index_docs(spark, path, QUERY_TERMS, k=10)


# phrases for the oracle-checked pair: two common bigrams, one
# 3-token phrase, and a repeated-token bigram (the overlap case
# substring/regex counting gets wrong — "batch batch batch" holds
# TWO occurrences of "batch batch")
PHRASES = ("table scan", "merge sort", "stream spark window",
           "batch batch")


def _phrase_block(phrase: str) -> str:
    terms = phrase.split()
    joins, conds = [], []
    for i, t in enumerate(terms):
        a = f"p{i}"
        if i == 0:
            joins.append(f"pos {a}")
        else:
            joins.append(
                f"JOIN pos {a} ON {a}.doc_id = p0.doc_id "
                f"AND {a}.p = p0.p + {i}")
        conds.append(f"{a}.term = '{t}'")
    return f"""
      SELECT '{phrase}' AS phrase, p0.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM {' '.join(joins)}
      WHERE {' AND '.join(conds)}
      GROUP BY p0.doc_id"""


@query(
    "search_index_phrase",
    oracle=f"""
    WITH vis AS ({_VIS_SQL}),
    t AS (
      SELECT doc_id, {_TOKS} AS toks FROM vis
    ),
    pos AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) AS p
      FROM t
    )
    SELECT * FROM ({' UNION ALL '.join(_phrase_block(p)
                                       for p in PHRASES)})
    """,
)
def _search_index_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phrase search served from the maintained positional
    index (operators/text_index.search_text_index_phrase): every
    live document containing each query phrase as a consecutive
    token run, with its exact occurrence count — overlapping
    occurrences counted individually (the repeated-token phrase in
    the set exists to pin that; substring counting undercounts it).
    The index fixture is the SAME maintained state as the scoring
    pairs (build -> adds -> compact -> update/add/delete delta, now
    built positional), so the oracle — positional self-joins over
    the visible corpus in SQL — also re-proves that positions ride
    the LSM reconciliation correctly through shadowing and
    tombstones.

    Scale: one postings read pruned to the phrases' term buckets;
    per phrase, doc-keyed inner joins over term-hit rows and a pure
    JVM array-intersect of shifted position arrays — no Python, no
    corpus-sized shuffle."""
    from ..operators.text_index import search_text_index_phrase

    path = _text_index_path(spark, sf_dir)
    return search_text_index_phrase(spark, path, list(PHRASES))


_SNIPPET_CONTEXT = 4


def _snippet_block(phrase: str) -> str:
    terms = phrase.split()
    n, c = len(terms), _SNIPPET_CONTEXT
    joins, conds = [], []
    for i, t in enumerate(terms):
        a = f"p{i}"
        if i == 0:
            joins.append(f"pos {a}")
        else:
            joins.append(
                f"JOIN pos {a} ON {a}.doc_id = p0.doc_id "
                f"AND {a}.p = p0.p + {i}")
        conds.append(f"{a}.term = '{t}'")
    return f"""
      SELECT '{phrase}' AS phrase, p0.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MIN(p0.p) - 1 AS BIGINT) AS first_pos,
             CAST(GREATEST(1, MIN(p0.p) - {c}) AS BIGINT) AS s,
             CAST({n + 2 * c} AS BIGINT) AS l
      FROM {' '.join(joins)}
      WHERE {' AND '.join(conds)}
      GROUP BY p0.doc_id"""


@query(
    "search_index_snippets",
    oracle=f"""
    WITH vis AS ({_VIS_SQL}),
    t AS (
      SELECT doc_id, {_TOKS} AS toks FROM vis
    ),
    pos AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) AS p
      FROM t
    ),
    m AS ({' UNION ALL '.join(_snippet_block(p) for p in PHRASES)})
    SELECT m.phrase, m.doc_id, m.n_occurrences, m.first_pos,
           array_to_string(list_slice(t.toks, m.s, m.s + m.l - 1), ' ')
             AS snippet
    FROM m JOIN t ON t.doc_id = m.doc_id
    """,
)
def _search_index_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC snippets served from maintained state
    (operators/text_index.search_text_index_snippets): for every
    phrase match in the live corpus, the token window around the
    FIRST occurrence, read back from the index's stored-fields seam
    (docs/ keeps the raw text when built ``store_text=True`` — the
    Lucene stored-fields idea over plain parquet). The fixture is
    the SAME maintained state as every other search pair, so the
    oracle — positional self-joins + list slicing over the visible
    corpus — additionally proves stored text follows the LSM
    shadowing/tombstone/compaction rules (a doc-2 snippet above
    reflects its re-defined wave-1 text, not the original).

    Scale: the phrase-match plan plus ONE doc-keyed join against
    stored docs rows — match-set-sized; the corpus text is never
    scanned, only the matched docs' rows are read back."""
    from ..operators.text_index import search_text_index_snippets

    path = _text_index_path(spark, sf_dir)
    return search_text_index_snippets(spark, path, list(PHRASES),
                                      context=_SNIPPET_CONTEXT)
