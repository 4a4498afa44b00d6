"""End-to-end crawl ingestion: WARC bytes -> curated text corpus.

This is the first pipeline a training-data user runs: take raw crawl
archives, parse the records, extract text from the HTML, gate on
language/quality, and emit canonicalized, fingerprinted corpus rows
ready for dedup and packing. Every stage exists (and is individually
driver-green) elsewhere in this repo — `sources/warc.warc_records`,
`functions/text.html_to_text` / `language_id` / `quality_score` /
`url_canonicalize` / `doc_fingerprint` — this module proves the
COMPOSITION: one narrow pass, scan stage only, no shuffle anywhere
(guarded by tests/test_scale_patterns.py). At 100 TB the whole
pipeline is embarrassingly parallel: each WARC file parses, extracts
and scores inside its own scan partition, and only the curated
corpus rows reach the sink.

The WARC input is synthesized deterministically from the documents
table (HTML shell + HTTP envelope + WARC framing, every other file
gzip-per-record like Common Crawl), so the DuckDB oracle can rebuild
the expected output arithmetically — a hash match proves the full
parse -> extract -> gate -> canonicalize chain end to end.

No counterpart in the reference (extension scope, SURVEY.md §2.3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS_EN,
    doc_fingerprint,
    html_title,
    html_to_text,
    language_id,
    quality_score,
    token_count,
    url_canonicalize,
)
from ..operators.dedup import _fan_out
from ..sources.parquet import load_table
from ..operators.broadcast import hint_broadcast_if_small
from .dedup_queries import minhash_bands_ctes as _bands_ctes_from
from .dedup_queries import substr_contam_ids_ctes as _contam_ctes
from .queries import query
from .text_queries import _lang_case_sql, _marker_count, _TOKS, canonical_sql
from ..scratch import scratch_dir

# The held-out benchmark split for the decontamination gates (batch
# and streaming e2e pipelines): RAW document text, doc_id % 7 == 3 —
# deliberately overlapping both the crawled corpus and the historical
# index so "the crawl swept up a benchmark document" is exercised.
_BENCH_SRC = "(SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3)"

# Quality gate for corpus admission. The synthetic pages score across
# the whole [0,1] range (length + stopword-band + alpha terms), so
# this threshold genuinely splits the corpus (~1/3 admitted, 2/3
# rejected at the test SFs) — both engines compare the identical
# 6-dp-rounded double.
_QUALITY_GATE = 0.4

# DuckDB twin of the per-document HTML page the synthesizer builds in
# Python below: identical string arithmetic (full text in the body, a
# title, comment + script/style noise, entities, doc_id-dependent
# link count) so the extractor has markup to strip on every row.
_PAGE_SQL = """
    '<!DOCTYPE html><html><head><title> Doc ' || CAST(doc_id AS VARCHAR)
    || ' &amp; friends </title><style>p{color:red}</style>'
    || '<script>var x = doc < 3 && doc > 1;</script></head>'
    || '<!-- crawl id ' || CAST(doc_id AS VARCHAR) || ' --><body><p>'
    || text
    || '</p><p>&quot;quoted&#39;&nbsp;&amp;lt;kept&gt;</p>'
    || repeat('<a href="/x">link</a> ', CAST(doc_id % 4 AS INTEGER))
    || '<div>tail ' || CAST(doc_id AS VARCHAR) || '</div></body></html>'
"""

# DuckDB twin of the per-document target URI (same arithmetic as the
# url_canonicalize query's synthetic URLs: scheme case, default and
# explicit ports, utm_* params, fragments all vary by doc_id).
_URI_SQL = """
    CASE doc_id % 3 WHEN 0 THEN 'HTTPS://WWW.Site' WHEN 1
         THEN 'https://cdn.site' ELSE 'HTTP://Site' END
    || CAST(doc_id % 50 AS VARCHAR)
    || CASE doc_id % 3 WHEN 0 THEN '.COM:443' WHEN 1 THEN '.com'
            ELSE '.ORG:80' END
    || '/p/' || CAST(doc_id % 17 AS VARCHAR)
    || CASE WHEN doc_id % 2 = 0
            THEN '/?utm_source=a&x=' || CAST(doc_id % 11 AS VARCHAR)
                 || '&utm_b=c'
            ELSE '?id=' || CAST(doc_id % 13 AS VARCHAR) || '#frag' END
"""


def _page_html(did: int, text: str) -> str:
    """Python twin of ``_PAGE_SQL`` (what the crawler 'fetched')."""
    return (
        f"<!DOCTYPE html><html><head><title> Doc {did} &amp; friends "
        "</title><style>p{color:red}</style>"
        "<script>var x = doc < 3 && doc > 1;</script></head>"
        f"<!-- crawl id {did} --><body><p>{text}"
        "</p><p>&quot;quoted&#39;&nbsp;&amp;lt;kept&gt;</p>"
        + '<a href="/x">link</a> ' * (did % 4)
        + f"<div>tail {did}</div></body></html>")


def _target_uri(did: int) -> str:
    """Python twin of ``_URI_SQL``."""
    scheme = ("HTTPS://WWW.Site", "https://cdn.site",
              "HTTP://Site")[did % 3]
    tld = (".COM:443", ".com", ".ORG:80")[did % 3]
    uri = f"{scheme}{did % 50}{tld}/p/{did % 17}"
    if did % 2 == 0:
        return uri + f"/?utm_source=a&x={did % 11}&utm_b=c"
    return uri + f"?id={did % 13}#frag"


def _html_strip_sql(col: str) -> str:
    """DuckDB regexp chain identical to functions.text.html_to_text
    (patterns held to the RE2/Java common subset)."""
    cur = col
    cur = f"regexp_replace({cur}, '(?s)<!--.*?-->', ' ', 'g')"
    cur = (f"regexp_replace({cur}, "
           "'(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g')")
    cur = f"regexp_replace({cur}, '<[^>]+>', ' ', 'g')"
    for ent, repl in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                      ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&")]:
        cur = f"regexp_replace({cur}, '{ent}', '{repl}', 'g')"
    return f"trim(regexp_replace({cur}, '\\s+', ' ', 'g'))"


_QUALITY_SQL = f"""round(
      0.4 * least(CAST(len({_TOKS}) AS DOUBLE) / 200.0, 1.0)
    + 0.3 * (CASE WHEN len({_TOKS}) > 0
                   AND {_marker_count(STOPWORDS_EN)}
                       / CAST(len({_TOKS}) AS DOUBLE) >= 0.1
                   AND {_marker_count(STOPWORDS_EN)}
                       / CAST(len({_TOKS}) AS DOUBLE) <= 0.6
              THEN 1.0 ELSE 0.0 END)
    + 0.3 * (CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        AS DOUBLE) / CAST(length(text) AS DOUBLE)
              ELSE 0.0 END)
    , 6)"""


@query(
    "warc_to_corpus",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, {_PAGE_SQL} AS aug, {_URI_SQL} AS uri
      FROM documents WHERE text IS NOT NULL
    ),
    e AS (
      SELECT doc_id, uri,
             trim(regexp_extract(aug, '(?s)<title[^>]*>(.*?)</title>', 1))
               AS title,
             {_html_strip_sql('aug')} AS text
      FROM a
    ),
    s AS (
      SELECT doc_id, uri, title,
             {_lang_case_sql()} AS lang,
             {_QUALITY_SQL} AS quality,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             substring(md5(regexp_replace(trim(lower(text)),
                                          '\\s+', ' ', 'g')), 1, 16)
               AS fingerprint
      FROM e
    )
    SELECT doc_id, {canonical_sql('uri')} AS canonical_url, title,
           lang, quality, n_tokens, fingerprint
    FROM s
    WHERE quality >= {_QUALITY_GATE} AND lang <> 'und'
    """,
)
def _warc_to_corpus(spark: SparkSession, sf_dir: str,
                    with_text: bool = False) -> DataFrame:
    """Crawl -> corpus, one narrow pass: synthesize a gzip'd WARC
    file per document (1 warcinfo + 1 HTTP 200 response whose body is
    an HTML page around the document text), parse it with
    `warc_records` (real ISO 28500 framing + gzip member walking +
    HTTP splitting; `redistribute=False` keeps the parse fused into
    the scan), strip the HTML to text, gate on language-ID and the
    composite quality score, and emit canonical URL + content
    fingerprint per admitted page. The only exchange is the
    `_fan_out` widen of the narrow local scan (a no-op at crawl
    scale, where the file count already exceeds the core target) —
    every later stage is a scan-stage map, so at crawl scale
    throughput is bounded by parse+regex CPU, never the network."""
    from ..sources.warc import warc_records, write_warc

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", "text"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                html = _page_html(did, text).encode("utf-8")
                http = (b"HTTP/1.1 200 OK\r\n"
                        b"Content-Type: text/html\r\n\r\n" + html)
                recs = [
                    {"warc_type": "warcinfo",
                     "payload": b"software: sparkwarc 1.0\r\n"},
                    {"warc_type": "response",
                     "target_uri": _target_uri(did),
                     "payload": http},
                ]
                ids.append(did)
                payloads.append(write_warc(
                    recs, gzip_members=bool(did % 2)))
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, "media_id long, payload binary")
    recs = warc_records(media, include_body=True, redistribute=False)
    page = (recs
            .filter((F.col("warc_type") == "response")
                    & (F.col("http_status") == 200))
            .select(F.col("media_id").alias("doc_id"), "target_uri",
                    html_title("body").alias("title"),
                    html_to_text("body").alias("extracted")))

    # Arrow identity barrier: materialize the 10-regex extraction
    # ONCE. Without it, CollapseProject inlines the whole
    # html_to_text chain into every downstream consumer (language,
    # quality, token count, fingerprint), and the tokenizer's
    # higher-order-function lambdas run interpreted where
    # subexpression elimination can't dedupe them — measured 4.6 s
    # -> 2.6 s at sf0.1. Still a narrow map: zero exchanges.
    def materialize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from batches

    page = page.mapInPandas(
        materialize,
        "doc_id long, target_uri string, title string, extracted string")
    # with_text keeps the stripped page text (as `text`) for consumers
    # that audit content downstream (the decontamination gate); the
    # default drops it so the admitted-page rollups stay narrow
    extra = [F.col("extracted").alias("text")] if with_text else []
    scored = page.select(
        "doc_id", "target_uri", "title",
        language_id(F.col("extracted")).alias("lang"),
        quality_score(F.col("extracted")).alias("quality"),
        token_count(F.col("extracted")).cast("long").alias("n_tokens"),
        doc_fingerprint(F.col("extracted")).alias("fingerprint"),
        *extra)
    extra = ["text"] if with_text else []
    return (scored
            .filter((F.col("quality") >= _QUALITY_GATE)
                    & (F.col("lang") != "und"))
            .select("doc_id",
                    url_canonicalize("target_uri").alias("canonical_url"),
                    "title", "lang", "quality", "n_tokens",
                    "fingerprint", *extra))


# ------------------------------------------------------- robots.txt gate

# Per-domain rule set, synthesized arithmetically (domain key d):
# three rules with DISTINCT prefix lengths (1, 3, 4), so the RFC 9309
# longest-match winner is unique and the allow-wins-ties clause never
# has to fire — argmax on the single integer 2*len+allow is exact.
#   "/"          -> allow            (the default-open root rule)
#   "/p/"        -> allow iff d%2==0 (section gate)
#   "/p/<d%5>"   -> allow iff d%3==0 (subtree override; matches every
#                                     path whose id starts with d%5,
#                                     real REP prefix behavior)
_ROBOTS_N_DOMAINS = 50


_ROBOTS_RULES_SQL = """
      SELECT dom, '/' AS prefix, 1 AS allow, 1 AS rule_len FROM doms
      UNION ALL
      SELECT dom, '/p/', CASE WHEN dom % 2 = 0 THEN 1 ELSE 0 END, 3
      FROM doms
      UNION ALL
      SELECT dom, '/p/' || CAST(dom % 5 AS VARCHAR),
             CASE WHEN dom % 3 = 0 THEN 1 ELSE 0 END, 4
      FROM doms
"""


@query(
    "robots_txt_gate",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id, doc_id % {_ROBOTS_N_DOMAINS} AS dom,
             '/p/' || CAST(doc_id % 17 AS VARCHAR) AS path
      FROM documents WHERE text IS NOT NULL
    ),
    doms AS (SELECT DISTINCT dom FROM urls),
    rules AS ({_ROBOTS_RULES_SQL}),
    matched AS (
      SELECT u.doc_id, u.dom, u.path,
             max(2 * r.rule_len + r.allow) AS score,
             max_by(r.prefix, 2 * r.rule_len + r.allow) AS matched_rule
      FROM urls u JOIN rules r ON u.dom = r.dom
                 AND starts_with(u.path, r.prefix)
      GROUP BY u.doc_id, u.dom, u.path
    )
    SELECT doc_id, CAST(dom AS BIGINT) AS dom, path, matched_rule,
           CAST(score // 2 AS BIGINT) AS rule_len,
           CAST(score % 2 AS BOOLEAN) AS allowed
    FROM matched
    """,
)
def _robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy gate: apply RFC 9309 (robots.txt) longest-match
    semantics to every URL — the admission decision a crawler makes
    before a page may enter the corpus at all. Each URL joins its
    domain's rule set on a prefix match and the longest matching rule
    wins (allow would win ties; the synthesized rule lengths are
    distinct so the argmax on ``2*rule_len + allow`` is unique —
    module comment). Scale shape: the rule set is domains x 3 rows —
    orders of magnitude smaller than the URL stream — so it joins as
    a BROADCAST and the verdict is a map-side struct-argmax grouped
    on the URL: one URL-sized shuffle, no rule-side shuffle, no
    driver state. Real-world rule files plug in by replacing the
    synthesized `rules` frame with parsed robots.txt lines (same
    (dom, prefix, allow, rule_len) contract)."""
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull()))
    urls = docs.select(
        "doc_id",
        (F.col("doc_id") % _ROBOTS_N_DOMAINS).alias("dom"),
        F.concat(F.lit("/p/"), (F.col("doc_id") % 17).cast("string"))
        .alias("path"))
    doms = urls.select("dom").distinct()
    d = F.col("dom")
    rules = doms.select(
        "dom",
        F.explode(F.array(
            F.struct(F.lit("/").alias("prefix"),
                     F.lit(1).alias("allow"),
                     F.lit(1).alias("rule_len")),
            F.struct(F.lit("/p/").alias("prefix"),
                     F.when(d % 2 == 0, 1).otherwise(0).alias("allow"),
                     F.lit(3).alias("rule_len")),
            F.struct(F.concat(F.lit("/p/"), (d % 5).cast("string"))
                     .alias("prefix"),
                     F.when(d % 3 == 0, 1).otherwise(0).alias("allow"),
                     F.lit(4).alias("rule_len")))).alias("r")
    ).select("dom", "r.prefix", "r.allow", "r.rule_len")
    j = urls.join(hint_broadcast_if_small(rules), "dom").filter(
        F.col("path").startswith(F.col("prefix")))
    score = 2 * F.col("rule_len") + F.col("allow")
    matched = (j.groupBy("doc_id", "dom", "path")
                .agg(F.max(score).alias("score"),
                     F.max_by("prefix", score).alias("matched_rule")))
    return matched.select(
        "doc_id", F.col("dom").cast("long").alias("dom"), "path",
        "matched_rule",
        F.expr("score DIV 2").cast("long").alias("rule_len"),
        (F.col("score") % 2 == 1).alias("allowed"))


# one JSONL corpus copy per (process, sf_dir), not per invocation:
# the r8 temp-leak fix collected the rollup and deleted the copy each
# call, which charged every invocation a full corpus write (r9 perf
# advisory — 0.5 s at sf0.1, twice per bench). The copy is immutable
# test input, so it is written once, reused by every later call, and
# reclaimed at interpreter exit (the WHOLE mkdtemp tree, not just the
# corpus subdirectory — r10 advisory). The cache keys on the
# realpath of sf_dir alone, deliberately: the corpus derives only
# from the parquet at that path, so it survives Spark-session
# restarts in long-lived processes; the one unsupported pattern is
# REWRITING the parquet at an already-cached path within one
# process, which no runner here does (the sweep runner uses fresh
# paths per scale point).
_ROUNDTRIP_DIRS: dict[str, str] = {}


def _cleanup_roundtrip_dirs() -> None:
    import os
    import shutil

    for d in _ROUNDTRIP_DIRS.values():
        # values are `corpus` subdirs — reclaim their mkdtemp parents
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    _ROUNDTRIP_DIRS.clear()


def _roundtrip_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import tempfile

    from ..sources.jsonl import write_jsonl_corpus

    key = os.path.realpath(sf_dir)
    cached = _ROUNDTRIP_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    work = scratch_dir(prefix="jsonl_roundtrip_")
    if not _ROUNDTRIP_DIRS:
        atexit.register(_cleanup_roundtrip_dirs)
    out = os.path.join(work, "corpus")
    docs = load_table(spark, sf_dir, "documents")
    write_jsonl_corpus(
        docs, out, ["doc_id", "text", "lang", "source", "n_chars"])
    with open(os.path.join(out, "zz_corrupt.txt"), "w") as f:
        f.write('{"doc_id": 1, "lang": "en", truncated\n')
        f.write("not json at all\n")
    _ROUNDTRIP_DIRS[key] = out
    return out


@query(
    "jsonl_corpus_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(0 AS BIGINT) AS n_corrupt
    FROM documents
    GROUP BY lang
    UNION ALL
    SELECT NULL AS lang, 2 AS n_docs, NULL AS total_chars,
           2 AS n_corrupt
    """,
)
def _jsonl_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL source/sink contract (sources/jsonl.py) proven as a
    roundtrip: documents -> JSONL files -> read back under an
    EXPLICIT schema with two injected malformed lines. Valid rows
    aggregate per language exactly as the parquet originals (the
    hash match proves the serializer/parser pair is lossless for the
    corpus schema); the two corrupt lines surface as the NULL-lang
    quarantine row with their raw text captured, not as a job abort
    — the per-row poison contract a 1000-executor ingest needs.
    Scan-stage only until one groupBy(lang) shuffle; the corpus copy
    is a session-cached input (see `_roundtrip_corpus_dir`), so the
    rollup folds straight into the read-back scan with no extra
    materialization or per-call write."""
    from ..sources.jsonl import CORRUPT_COL, read_jsonl_corpus

    out = _roundtrip_corpus_dir(spark, sf_dir)
    back = read_jsonl_corpus(
        spark, out,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    return (back.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").alias("total_chars"),
                     F.sum(F.when(F.col(CORRUPT_COL).isNotNull(), 1)
                            .otherwise(0)).cast("long")
                      .alias("n_corrupt")))


@query(
    "crawl_to_training_shards",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, {_PAGE_SQL} AS aug, {_URI_SQL} AS uri
      FROM documents WHERE text IS NOT NULL
    ),
    e AS (
      SELECT doc_id, uri,
             {_html_strip_sql('aug')} AS text
      FROM a
    ),
    s AS (
      SELECT doc_id, text,
             {_lang_case_sql()} AS lang,
             {_QUALITY_SQL} AS quality,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             substring(md5(regexp_replace(trim(lower(text)),
                                          '\\s+', ' ', 'g')), 1, 16)
               AS fingerprint
      FROM e
    ),
    corpus AS (
      SELECT * FROM s
      WHERE quality >= {_QUALITY_GATE} AND lang <> 'und'
    ),
    kept AS MATERIALIZED (
      SELECT * FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY fingerprint)
                    AS keep_id
        FROM corpus
      ) WHERE doc_id = keep_id
    ),
    {_contam_ctes('(SELECT doc_id, text FROM kept)', _BENCH_SRC,
                  prefix='dc_')},
    clean AS (
      SELECT * FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM dc_contam)
    ),
    c AS (
      SELECT lang, n_tokens,
             CAST(floor(coalesce(SUM(n_tokens) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0)
                  / 512.0) AS BIGINT) AS chunk_id
      FROM clean
    ),
    roll AS (
      SELECT lang, chunk_id,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
      FROM c GROUP BY 1, 2
    ),
    dec AS (
      SELECT lang, COUNT(*) AS n_dec FROM kept
      WHERE doc_id IN (SELECT doc_id FROM dc_contam)
      GROUP BY 1
    )
    SELECT roll.*,
           CAST(COALESCE(dec.n_dec, 0) AS BIGINT) AS n_decontaminated
    FROM roll LEFT JOIN dec USING (lang)
    """,
)
def _crawl_to_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data path in one plan: raw WARC crawl
    archives -> parsed pages -> HTML-stripped text -> language/quality
    gate (warc_to_corpus, reused directly) -> exact content dedup
    (lowest-id survivor per fingerprint) -> exact-substring
    DECONTAMINATION against the held-out benchmark split (raw
    documents with doc_id % 7 == 3: any kept page sharing a verbatim
    run of >= 24 tokens with a benchmark document is cut — including
    benchmark documents the crawl itself swept up) -> deterministic
    512-token packing into per-language training shards, with the
    per-language decontamination count carried in the output as the
    audit disposition. This is what a user actually ships to a
    trainer; every stage is individually green elsewhere and this row
    proves the end-to-end composition under one hash.

    Scale shape: the crawl->corpus prefix is the same zero-exchange
    scan-stage map; dedup adds ONE shuffle on the 16-hex fingerprint;
    the decontamination audit is linear window tables + one anchor-
    hash shuffle with the tiny benchmark side broadcastable; packing
    windows within (lang) — the shard key — so chunk assignment
    parallelizes across languages with no global sort; the final
    rollup reuses the lang partitioning."""
    from pyspark.sql import Window

    from ..operators.curation import pack_token_chunks
    from ..operators.dedup import substring_contamination

    corpus = _warc_to_corpus(spark, sf_dir, with_text=True) \
        .withColumnRenamed("n_tokens", "__toks")
    w = Window.partitionBy("fingerprint")
    # materialize the deduped corpus ONCE: three consumers follow
    # (the contamination audit, the anti-join keep, the semi-join
    # disposition count), and without the checkpoint each re-ran the
    # whole WARC synth -> parse -> strip -> gate prefix — per-branch
    # column pruning makes the subtrees differ, so exchange reuse
    # never fires (measured: 18 Arrow stages in the executed plan,
    # 5.4 s; one materialized pass + reuse is ~2x). localCheckpoint
    # is corpus-sized here (admitted pages + text), the same bounded
    # class as the operator's own window state, and is reclaimed by
    # the ContextCleaner when the plan is GC'd.
    kept = (corpus.withColumn("__keep", F.min("doc_id").over(w))
                  .filter(F.col("doc_id") == F.col("__keep"))
                  .localCheckpoint(eager=True))
    bench = (load_table(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % 7 == 3)
             .select("doc_id", "text"))
    # the contaminated-id set is consumed twice (anti + semi): it is
    # tiny (ids only) but sits atop the alignment join — checkpoint
    # it so the anchor-hash shuffle runs once
    contam = (substring_contamination(kept.select("doc_id", "text"),
                                      bench)
              .select(F.col("train_id").alias("doc_id")).distinct()
              .localCheckpoint(eager=True))
    clean = kept.join(contam, "doc_id", "left_anti")
    packed = pack_token_chunks(clean, ["lang"], F.col("__toks"),
                               order_col="doc_id", budget=512)
    roll = (packed.groupBy("lang", "chunk_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("chunk_tokens")))
    dec = (kept.join(contam, "doc_id", "left_semi")
           .groupBy("lang")
           .agg(F.count(F.lit(1)).alias("__nd")))
    return (roll.join(dec, "lang", "left")
            .select("lang", "chunk_id", "n_docs", "chunk_tokens",
                    F.coalesce("__nd", F.lit(0)).cast("bigint")
                    .alias("n_decontaminated")))


# Staged delimited export of the orders table, one per (process,
# sf_dir) — same immutable-input caching rationale as
# `_roundtrip_corpus_dir` above (the export derives only from the
# parquet at sf_dir; reclaimed at interpreter exit).
_DELIMITED_DIRS: dict[str, str] = {}


def _cleanup_delimited_dirs() -> None:
    import os
    import shutil

    for d in _DELIMITED_DIRS.values():
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    _DELIMITED_DIRS.clear()


_ORDERS_CSV_DDL = ("o_orderkey long, o_custkey long, "
                   "o_orderstatus string, o_totalprice double, "
                   "o_orderdate timestamp, o_orderpriority string")


def _delimited_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import tempfile

    from ..sources.delimited import write_delimited

    key = os.path.realpath(sf_dir)
    cached = _DELIMITED_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    work = scratch_dir(prefix="csv_ingest_")
    if not _DELIMITED_DIRS:
        atexit.register(_cleanup_delimited_dirs)
    out = os.path.join(work, "orders_feed")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    # pipe-separated, the classic TPC-H tbl feed shape; no free-text
    # columns, so no quoting fires and the bytes are deterministic
    write_delimited(orders, out, sep="|")
    with open(os.path.join(out, "zz_corrupt.csv"), "w") as f:
        # wrong field count (2 of 6)
        f.write("bad|row\n")
        # unparseable double in o_totalprice
        f.write("9000000001|1|O|not-a-number|"
                "1995-01-01T00:00:00.000Z|1-URGENT\n")
        # unparseable timestamp AND too many fields
        f.write("9000000002|2|F|123.45|not-a-time|2-HIGH|x|y\n")
    _DELIMITED_DIRS[key] = out
    return out


@query(
    "csv_ingest_policy",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           -- VARCHAR route: correctly-rounded decimal→double (DuckDB's
           -- direct cast is off one ULP above 2^53 scaled — r14 sweep)
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR)
                AS DOUBLE) AS total_price,
           MIN(o_orderkey) AS min_orderkey,
           MAX(o_custkey) AS max_custkey,
           MAX(ascii(o_orderstatus)) AS max_status_ascii,
           MAX(o_orderdate) AS last_order_ts,
           CAST(0 AS BIGINT) AS n_corrupt
    FROM orders
    GROUP BY o_orderpriority
    UNION ALL
    SELECT NULL AS o_orderpriority,
           CAST(3 AS BIGINT) AS n_orders,
           CAST(NULL AS DOUBLE) AS total_price,
           CAST(NULL AS BIGINT) AS min_orderkey,
           CAST(NULL AS BIGINT) AS max_custkey,
           CAST(NULL AS INTEGER) AS max_status_ascii,
           CAST(NULL AS TIMESTAMP) AS last_order_ts,
           CAST(3 AS BIGINT) AS n_corrupt
    """,
)
def _csv_ingest_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delimited source/sink contract (sources/delimited.py)
    proven as a roundtrip with a malformed-record policy — the CSV
    twin of `jsonl_corpus_roundtrip`, over a pipe-separated orders
    feed (the TPC-H tbl shape) with three injected poison lines
    (wrong field count, bad double, bad timestamp + extra fields).

    Valid rows aggregate per o_orderpriority exactly as the parquet
    originals — the hash match proves the writer/parser pair is
    lossless for long/double/timestamp/string columns (double via
    Double.toString roundtrip, summed under exact decimal
    accumulation on both engines). The three poison lines surface as
    the NULL-priority quarantine row with their raw text captured in
    ``_corrupt`` — per-row poison, never a job abort.

    The rollup is a SINGLE groupBy pass: corrupt rows are folded in
    by nulling their group key rather than a separate
    filter-on-_corrupt branch, which (a) avoids the
    QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction on corrupt-only
    projections and (b) keeps it one scan + one shuffle. The
    aggregate deliberately touches EVERY feed column: the univocity
    parser validates only projected fields (parser column pruning —
    sources/delimited.py caveats; empirically, a 3-column rollup
    here let the bad-timestamp poison line through as valid), so a
    complete ingest audit must read the full row width. That is the
    honest price of malformation detection at 100 TB and it is
    scan-stage work, not shuffle width — only the per-group partials
    move.

    Scale: scan-stage parse (line-splittable, multiLine=false), one
    groupBy(priority) shuffle with map-side partials over ~5 groups."""
    from ..operators.windowed_agg import sum_exact
    from ..sources.delimited import CORRUPT_COL, read_delimited

    out = _delimited_orders_dir(spark, sf_dir)
    back = read_delimited(spark, out, _ORDERS_CSV_DDL, sep="|")
    valid = F.col(CORRUPT_COL).isNull()

    def v(col: str):
        return F.when(valid, F.col(col))

    return (back
            .groupBy(v("o_orderpriority").alias("o_orderpriority"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 sum_exact(v("o_totalprice")).alias("total_price"),
                 F.min(v("o_orderkey")).alias("min_orderkey"),
                 F.max(v("o_custkey")).alias("max_custkey"),
                 # ascii, not the raw string: a string MIN/MAX buffer
                 # is immutable and demotes the whole aggregate to
                 # SortAggregate (per-partition sort of every feed
                 # row); the int form keeps HashAggregate while still
                 # forcing the parser to validate o_orderstatus
                 F.max(F.ascii(v("o_orderstatus")))
                  .alias("max_status_ascii"),
                 F.max(v("o_orderdate")).alias("last_order_ts"),
                 F.sum(F.when(valid, F.lit(0)).otherwise(1))
                  .cast("long").alias("n_corrupt")))


# ---------------------------------------------------------------------------
# Streaming corpus ingestion (the e2e composition, streaming twin of
# crawl_to_training_shards): CDC decode -> gates -> dedup-at-ingest ->
# ANN upsert, one foreachBatch pipeline (streaming/corpus_pipeline.py)
# ---------------------------------------------------------------------------

_CORPUS_PIPE_CACHE: dict[str, str] = {}


def _corpus_pipeline_root(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture: band + ANN indexes over the GATED
    historical corpus (doc_id % 5 != 0), then the %5==0 documents
    stream through the composed sink as TWO CDC-JSON trigger waves
    (%10==0 then %10==5) with compact_every=2 and the
    exact-substring decontamination gate armed against the held-out
    benchmark split (raw documents with doc_id % 7 == 3 — overlaps
    both the historical corpus and the stream, so benchmark documents
    crawled into the feed are cut, the real leakage story).
    Everything runs in the stage of ONE LSM base publish
    (operators/lsm.py) — a published root is by construction a
    fully-drained pipeline, so completeness is just the markers."""
    import os
    import re
    import shutil
    import tempfile

    from ..operators.ann_index import build_ann_index
    from ..operators.dedup_index import build_band_index
    from ..operators.lsm import index_ok, publish_base
    from ..operators.text_index import build_text_index
    from ..streaming.corpus_pipeline import (DEFAULT_QUALITY_GATE,
                                             run_corpus_ingest,
                                             synthesize_documents_envelope)
    from ..streaming.replay_stage import stage_trigger_text_files

    cached = _CORPUS_PIPE_CACHE.get(sf_dir)
    if cached is None:
        slug = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
        # pipe3: the late-r15 shape (decontamination + text-index
        # legs) — the bumped slug can never resurrect an earlier
        # published root missing a leg
        path = os.path.join(tempfile.gettempdir(), f"corpus_pipe3_{slug}")
        band = os.path.join(path, "band_index")
        ann = os.path.join(path, "ann_index")
        tixp = os.path.join(path, "text_index")
        verd = os.path.join(path, "verdicts")
        dec = os.path.join(path, "decontam")
        if not (index_ok(band) and index_ok(ann) and index_ok(tixp)
                and os.path.isdir(verd) and os.path.isdir(dec)):
            def write(stage: str) -> None:
                os.makedirs(stage)
                docs = load_table(spark, sf_dir, "documents") \
                    .select("doc_id", "text")
                emb = load_table(spark, sf_dir, "embeddings") \
                    .select(F.col("vec_id").alias("doc_id"), "embedding")
                gate = ((quality_score("text")
                         >= F.lit(DEFAULT_QUALITY_GATE))
                        & (language_id("text") != F.lit("und")))
                hist = docs.filter((F.col("doc_id") % 5 != 0) & gate)
                build_band_index(hist, os.path.join(stage, "band_index"))
                build_ann_index(hist.select("doc_id").join(emb, "doc_id"),
                                os.path.join(stage, "ann_index"),
                                id_col="doc_id")
                build_text_index(hist, os.path.join(stage, "text_index"))
                work = scratch_dir(prefix="corpus_pipe_replay_")
                try:
                    feed_dir = stage_trigger_text_files(
                        synthesize_documents_envelope(
                            docs.filter(F.col("doc_id") % 5 == 0),
                            extra_cols=[
                                F.when(F.col("doc_id") % 10 == 0, 0)
                                .otherwise(1).alias("b")]),
                        work, F.col("b"), "cdc_docs")
                    raw = (spark.readStream.format("text")
                           .option("maxFilesPerTrigger", 1)
                           .load(feed_dir))
                    run_corpus_ingest(
                        raw, os.path.join(stage, "band_index"),
                        os.path.join(stage, "ann_index"),
                        os.path.join(stage, "verdicts"), emb,
                        checkpoint=os.path.join(work, "ckpt"),
                        compact_every=2,
                        benchmark=docs.filter(F.col("doc_id") % 7 == 3),
                        decontam_path=os.path.join(stage, "decontam"),
                        text_index_path=os.path.join(stage,
                                                     "text_index"))
                finally:
                    shutil.rmtree(work, ignore_errors=True)

            publish_base(path, write)
        _CORPUS_PIPE_CACHE[sf_dir] = path
    return _CORPUS_PIPE_CACHE[sf_dir]


@query(
    "streaming_corpus_ingest_replay",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, text, {_lang_case_sql()} AS lang,
             {_QUALITY_SQL} AS quality
      FROM documents
    ),
    gated AS MATERIALIZED (
      SELECT doc_id, text FROM g
      WHERE quality >= {_QUALITY_GATE} AND lang <> 'und'
    ),
    {_contam_ctes('(SELECT doc_id, text FROM gated WHERE doc_id % 10 = 0)',
                  _BENCH_SRC, prefix='w0_')},
    {_contam_ctes('(SELECT doc_id, text FROM gated WHERE doc_id % 10 = 5)',
                  _BENCH_SRC, prefix='w1_')},
    contam AS (
      SELECT doc_id FROM w0_contam
      UNION ALL SELECT doc_id FROM w1_contam
    ),
    {_bands_ctes_from('gated')},
    bands_eff AS (
      SELECT * FROM bands
      WHERE doc_id % 5 != 0
         OR doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    stats AS (
      SELECT band_id, band_key,
             COUNT(CASE WHEN doc_id % 5 != 0 THEN 1 END) AS n_hist,
             COUNT(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS n_w0,
             COUNT(CASE WHEN doc_id % 10 = 5 THEN 1 END) AS n_w1,
             MIN(CASE WHEN doc_id % 5 != 0 THEN doc_id END) AS min_hist,
             MIN(CASE WHEN doc_id % 10 = 0 THEN doc_id END) AS min_w0,
             MIN(CASE WHEN doc_id % 10 = 5 THEN doc_id END) AS min_w1
      FROM bands_eff GROUP BY 1, 2
    ),
    verdict AS (
      SELECT b.doc_id AS nid,
             MIN(CASE WHEN b.doc_id % 10 = 0 THEN
                   LEAST(s.min_hist,
                         CASE WHEN s.min_w0 < b.doc_id
                              THEN s.min_w0 END)
                 ELSE
                   LEAST(s.min_hist, s.min_w0,
                         CASE WHEN s.min_w1 < b.doc_id
                              THEN s.min_w1 END)
                 END) AS dup_of
      FROM bands_eff b
      JOIN stats s ON s.band_id = b.band_id
                  AND s.band_key = b.band_key
      WHERE b.doc_id % 5 = 0
        AND (CASE WHEN b.doc_id % 10 = 0
                  THEN s.n_hist + s.n_w0
                  ELSE s.n_hist + s.n_w0 + s.n_w1 END) <= 1024
      GROUP BY 1
    )
    SELECT d.doc_id,
           gd.doc_id IS NOT NULL AS passed_gates,
           (gd.doc_id IS NOT NULL AND ct.doc_id IS NOT NULL)
             AS decontaminated,
           CASE WHEN gd.doc_id IS NOT NULL AND ct.doc_id IS NULL
                THEN v.dup_of IS NULL END AS is_novel,
           v.dup_of,
           (gd.doc_id IS NOT NULL AND ct.doc_id IS NULL
            AND v.dup_of IS NULL AND em.vec_id IS NOT NULL) AS indexed,
           (gd.doc_id IS NOT NULL AND ct.doc_id IS NULL
            AND v.dup_of IS NULL) AS searchable
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN gated gd ON gd.doc_id = d.doc_id
    LEFT JOIN contam ct ON ct.doc_id = d.doc_id
    LEFT JOIN verdict v ON v.nid = d.doc_id
    LEFT JOIN embeddings em ON em.vec_id = d.doc_id
    """,
)
def _streaming_corpus_ingest_replay(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The END-TO-END streaming corpus pipeline
    (streaming/corpus_pipeline.py) replayed and checked under one
    hash: reference-shaped CDC document envelopes arrive as a
    2-trigger stream, each micro-batch decodes against the declared
    envelope schema, passes the text-quality gates, is audited
    against the held-out benchmark split (exact-substring
    decontamination — contaminated documents cut before any index
    state, ids persisted per batch), is labeled against the persisted
    band index (exactly-once verdicts + tagged delta append), and its
    novel documents upsert their embeddings into the served ANN index
    AND their text into the maintained inverted index (the late-r15
    fifth leg — BM25/phrase serving reflects the trigger with no
    lookup dependency) — the streaming twin of
    ``crawl_to_training_shards``, and the integration a real
    deployment runs. The output is each streamed document's final
    disposition: gated?, decontaminated?, novel?, dup-of whom, and —
    each read back from its own index's live post-compaction storage
    — similarity-indexed? and text-searchable?. The oracle recomputes gates, the per-wave
    contamination audit (df caps measured per trigger, exactly as the
    sink runs them), the wave-aware staged dedup arithmetic, and
    embedding availability from first principles.

    Scale: see the module docstring — per-trigger work is
    batch-sized on every leg, historical text/vectors never re-read,
    compaction amortized across triggers."""
    import os

    from ..operators.lsm import live_rows

    root = _corpus_pipeline_root(spark, sf_dir)
    streamed = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") % 5 == 0).select("doc_id")
    v = (spark.read.parquet(os.path.join(root, "verdicts"))
         .select("doc_id", F.col("is_novel").alias("__nov"), "dup_of"))
    dec = (spark.read.parquet(os.path.join(root, "decontam"))
           .select("doc_id", F.lit(True).alias("__dec")))
    live = live_rows(spark, os.path.join(root, "ann_index"), "vectors",
                     "doc_id") \
        .select("doc_id", F.lit(True).alias("__idx"))
    srch = live_rows(spark, os.path.join(root, "text_index"), "docs",
                     "doc_id").select("doc_id",
                                      F.lit(True).alias("__srch"))
    return (streamed
            .join(v, "doc_id", "left")
            .join(dec, "doc_id", "left")
            .join(live, "doc_id", "left")
            .join(srch, "doc_id", "left")
            .select("doc_id",
                    (F.col("__nov").isNotNull()
                     | F.col("__dec").isNotNull()).alias("passed_gates"),
                    F.coalesce("__dec", F.lit(False))
                    .alias("decontaminated"),
                    F.col("__nov").alias("is_novel"),
                    "dup_of",
                    F.coalesce("__idx", F.lit(False)).alias("indexed"),
                    F.coalesce("__srch", F.lit(False))
                    .alias("searchable")))


@query(
    "pdf_to_corpus",
    oracle=f"""
    SELECT doc_id,
           CAST(ceil(len(text) / (100 + (doc_id % 7) * 30.0))
                AS BIGINT) AS n_pages,
           CAST(len(text) AS BIGINT) AS n_chars,
           {_lang_case_sql()} AS lang,
           {_QUALITY_SQL} AS quality,
           substring(md5(regexp_replace(trim(lower(text)),
                                        '\\s+', ' ', 'g')), 1, 16)
             AS fingerprint,
           ({_QUALITY_SQL} >= {_QUALITY_GATE}
            AND {_lang_case_sql()} <> 'und') AS admitted
    FROM documents
    WHERE doc_id % 3 = 1 AND text IS NOT NULL
    """,
)
def _pdf_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF as a FIRST-CLASS corpus source format — the second-most
    common crawl payload after HTML, composed end to end: each
    document synthesizes as a real multi-page PDF (arithmetic page
    chunks; writer profile cycling by (doc_id // 3) % 4 as in
    ``multimodal_pdf_extract``), operators/pdf.py parses the bytes
    back per page, the pages REASSEMBLE into the document (exact
    substring concatenation, proving page ordering and offsets
    compose losslessly), and the standard corpus admission gates run
    over the recovered text — language-ID, composite quality,
    whitespace-normalized content fingerprint, the same
    gate/fingerprint chain ``warc_to_corpus`` runs on HTML. The
    oracle computes every output from the original text arithmetic,
    so a hash match proves encode -> parse -> reassemble -> gate is
    lossless end to end.

    Scale: encode/parse/reassemble is Arrow-batched scan-stage work;
    the only shuffle is the per-document page regroup (page rows are
    text-sized, bounded by the document itself); the gates are JVM
    column expressions."""
    from ..operators.multimodal import MEDIA_SCHEMA, pdf_text_features
    from ..operators.pdf import encode_pdf

    docs = (load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 3 == 1)
                    & F.col("text").isNotNull())
            .select("doc_id", "text"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                chunk = 100 + (did % 7) * 30
                pages = [text[i:i + chunk]
                         for i in range(0, len(text), chunk)]
                v = (did // 3) % 4
                payloads.append(encode_pdf(
                    pages, flate=v in (0, 2), tj_words=v == 1,
                    hex_strings=v == 2, split_contents=v == 2))
                metas.append({"media_type": "document", "format": "pdf",
                              "width": None, "height": None,
                              "n_channels": None, "sample_rate": None,
                              "duration_ms": None})
            yield pd.DataFrame({
                "media_id": pdf["doc_id"].astype("int64"),
                "meta": pd.Series(metas, dtype="object"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, schema=MEDIA_SCHEMA)
    feats = pdf_text_features(media, partitions=0)
    rebuilt = (feats.groupBy(F.col("media_id").alias("doc_id"))
               .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("page", "text"))),
                            lambda s: s["text"]), "").alias("text")))
    return rebuilt.select(
        "doc_id", "n_pages",
        F.length("text").cast("long").alias("n_chars"),
        language_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("quality"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
        ((quality_score(F.col("text")) >= F.lit(_QUALITY_GATE))
         & (language_id(F.col("text")) != F.lit("und")))
        .alias("admitted"))


_ORC_DIRS: dict[str, str] = {}


def _orc_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached ORC copy of the documents table (the
    `_roundtrip_corpus_dir` pattern for the columnar format)."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..sources.orc import write_orc_corpus

    key = os.path.realpath(sf_dir)
    cached = _ORC_DIRS.get(key)
    if cached and os.path.isdir(cached):
        return cached
    work = scratch_dir(prefix="orc_roundtrip_")
    if not _ORC_DIRS:
        atexit.register(lambda: [shutil.rmtree(
            os.path.dirname(d), ignore_errors=True)
            for d in _ORC_DIRS.values()])
    out = os.path.join(work, "corpus")
    write_orc_corpus(load_table(spark, sf_dir, "documents"), out,
                     ["doc_id", "text", "lang", "source", "n_chars"])
    _ORC_DIRS[key] = out
    return out


@query(
    "orc_corpus_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(text)) AS BIGINT) AS read_chars
    FROM documents
    WHERE n_chars > 40
    GROUP BY lang
    """,
)
def _orc_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORC source/sink contract (sources/orc.py) proven as a
    roundtrip: documents -> ORC -> read back under an explicit
    schema, filtered and rolled up per language. The `n_chars > 40`
    predicate REACHES THE ORC SCAN (`PushedFilters:
    [GreaterThan(n_chars,40)]` — row-group stats prune stripes the
    way a 100 TB Hive-era lake expects), and the hash match against
    the parquet originals proves the writer/reader pair is lossless
    for the corpus schema, text payload included (`read_chars`
    re-measures the text AFTER the roundtrip).

    Scale: columnar scan-stage until one groupBy(lang) shuffle; the
    ORC copy is a session-cached input."""
    from ..sources.orc import read_orc_corpus

    out = _orc_corpus_dir(spark, sf_dir)
    back = read_orc_corpus(
        spark, out,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    return (back.filter(F.col("n_chars") > 40)
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").cast("long").alias("total_chars"),
                     F.sum(F.length("text")).cast("long")
                      .alias("read_chars")))
