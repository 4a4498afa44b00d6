"""Persisted MinHash-LSH band index: dedup NEW data against an
existing corpus without rescanning it.

The in-corpus dedup family (operators/dedup.py) answers "which
documents in THIS dataset duplicate each other" — one self-contained
pass. A production training-data pipeline asks a different question
every day: "which of today's N new documents duplicate anything in
the 100 TB we already keep?" Re-banding the historical corpus per
batch would pay the full shingle -> minhash -> band lineage on every
ingest; this module materializes that lineage ONCE as a persisted
index of per-document band digests, partitioned by ``band_id``:

- ``build_band_index``: band the corpus (the exact
  ``_minhash_banded`` kernel the in-corpus pipeline uses — one
  banding rule, no drift) and write ``(doc_id, band_key)`` parquet
  under ``bands/band_id=B/``, published as an LSM base
  (operators/lsm.py).
- ``ingest_batch``: band ONLY the incoming batch, union with the
  index's band rows, and label each new document novel-or-duplicate
  in one bucket-grouped aggregation — no pairwise explosion: per
  (band_id, band_key) bucket the only facts needed are the MINIMUM
  historical member and the MINIMUM batch member, so a hot bucket
  costs one min-aggregation, never O(m^2) pairs. A batch document y
  is a duplicate iff some bucket links it to a historical document
  or to an EARLIER batch document (smaller id — the ingest-order
  rule: the first arrival of a duplicate cohort is novel, the rest
  point at it). The same oversized-bucket cap as the in-corpus
  pipeline applies, measured over the COMBINED (index + batch)
  bucket population.
- ``append_bands``: the accepted batch's band rows become a delta
  generation, so tomorrow's ingest sees today's documents without a
  rebuild; ``compact_band_index`` folds deltas into a fresh base.
- **maintained clusters** (r14): ``build_band_index(clusters=True)``
  seeds persistent cluster membership (``clusters/`` — the
  non-trivial min-id labels of the build corpus's capped-bucket
  components); ``ingest_cluster_edges`` keeps EVERY per-bucket link
  of a batch (not just the verdict's global min, so a doc bridging
  two clusters merges them); the edges ride each delta's atomic
  rename and ``cluster_labels`` / ``compact_band_index`` fold the
  union-find forest with the bounded min-label propagation — cluster
  membership stays equal to a from-scratch re-clustering of the
  cumulative corpus (at each stage's cap population) without ever
  recomputing components from text.

Scale: ingest shuffles only (band digest, doc_id) for the BATCH plus
the matching index partitions' digests — the historical corpus's
text is never read again. The index is ~num_hashes/r rows of
digest-width per document, ~1% of corpus bytes at typical settings.

No reference counterpart (extension scope, SURVEY.md §2.3); the
incremental shape is the standard production dedup-at-ingest design
(e.g. the CCNet/RefinedWeb pipelines' persisted hash stores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lsm
from .dedup import _minhash_banded, connected_components

_DEFAULTS = dict(num_hashes=16, bands=4, shingle_n=3)


def _write_bands(banded: DataFrame, dest: str) -> None:
    """Band-partitioned write with the empty-set guard: a partitioned
    write of ZERO rows (every document NULL/too-short to shingle)
    leaves a file-less dir no later read can infer a schema from —
    the same hazard compact_ann_index documents; an unpartitioned
    empty write keeps one schema-bearing file (nothing to prune in
    an empty band set)."""
    if banded.isEmpty():
        banded.coalesce(1).write.mode("overwrite").parquet(dest)
    else:
        banded.write.mode("overwrite").partitionBy("band_id") \
            .parquet(dest)


def _star_edges(banded: DataFrame, id_col: str,
                max_bucket_size: int = 1024) -> DataFrame:
    """Per-bucket STAR edges (member -> bucket-min member) under the
    oversized-bucket cap, as (a, b) pairs. Connectivity-equivalent to
    the in-corpus pipeline's per-bucket cliques (every member is one
    hop from the bucket min, and the min connects them all) at m-1
    edges per bucket instead of C(m,2) — so even an at-cap bucket
    emits 1023 edge rows, never half a million pair structs. Used to
    seed the maintained cluster state at build time."""
    stats = (banded.groupBy("band_id", "band_key")
             .agg(F.count(F.lit(1)).alias("__bn"),
                  F.min(id_col).alias("__mn")))
    return (banded.join(stats.filter(F.col("__bn") <= max_bucket_size),
                        ["band_id", "band_key"])
            .filter(F.col(id_col) != F.col("__mn"))
            .select(F.col(id_col).alias("a"), F.col("__mn").alias("b"))
            .distinct())


def build_band_index(corpus: DataFrame, index_path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_hashes: int = 16, bands: int = 4,
                     shingle_n: int = 3, clusters: bool = False,
                     max_bucket_size: int = 1024) -> None:
    """Band the corpus once and publish the band-digest index.
    ``clusters=True`` additionally seeds the MAINTAINED near-dup
    cluster state: the build-time components (min-label propagation
    over the capped per-bucket star edges — the same components
    ``near_dup_clusters`` computes over this corpus) persist under
    ``clusters/`` as the NON-TRIVIAL labels (cluster_id != id;
    singletons are implicit), so later ingests can extend cluster
    membership without ever re-banding the corpus
    (:func:`ingest_cluster_edges` / :func:`cluster_labels`)."""
    banded = _minhash_banded(corpus, text_col, id_col,
                             num_hashes, bands, shingle_n)

    def write(stage: str) -> None:
        _write_bands(banded, f"{stage}/bands")
        if clusters:
            comp = connected_components(
                _star_edges(banded, id_col, max_bucket_size), "a", "b")
            (comp.filter(F.col("node") != F.col("label"))
             .select(F.col("node").alias(id_col),
                     F.col("label").alias("cluster_id"))
             .write.mode("overwrite").parquet(f"{stage}/clusters"))

    if clusters:
        banded = banded.persist()       # bands write + edge pass share it
    try:
        lsm.publish_base(index_path, write)
    finally:
        if clusters:
            banded.unpersist()


def _index_bands(spark: SparkSession, index_path: str,
                 id_col: str) -> DataFrame:
    """Base + published delta generations of (id, band_id, band_key)."""
    from functools import reduce

    frames = [spark.read.parquet(f"{index_path}/bands")]
    for _, d in lsm.generations(index_path):
        frames.append(spark.read.parquet(os.path.join(d, "bands")))
    out = reduce(lambda a, b: a.unionByName(b), frames)
    return out.select(id_col, F.col("band_id").cast("long"), "band_key")


def _ingest_candidates(spark: SparkSession, index_path: str,
                       batch: DataFrame, text_col: str, id_col: str,
                       num_hashes: int, bands: int, shingle_n: int,
                       max_bucket_size: int,
                       banded: DataFrame | None) -> DataFrame:
    """Per (batch doc, bucket) link candidates (__nid, __dup): the
    bucket's min historical member, or its min EARLIER batch member
    if smaller — the single frame BOTH ingest surfaces reduce
    (verdicts take the global min per doc; cluster maintenance keeps
    every bucket edge). One bucket-grouped min-pass over the COMBINED
    population: a bucket's candidates depend only on its min
    historical and min batch member, so hot buckets never emit pairs;
    the cap mirrors the in-corpus pipeline's, measured over the
    union."""
    if not lsm.index_ok(index_path):
        raise FileNotFoundError(f"no published index at {index_path}")
    if banded is None:
        banded = _minhash_banded(batch, text_col, id_col,
                                 num_hashes, bands, shingle_n)
    hist = _index_bands(spark, index_path, id_col) \
        .select(F.col(id_col).alias("__hid"), "band_id", "band_key")
    newb = banded.select(F.col(id_col).alias("__nid"),
                         F.col("band_id").cast("long"), "band_key")
    members = (hist.select("band_id", "band_key",
                           F.col("__hid").alias("mid"),
                           F.lit(False).alias("is_new"))
               .unionByName(newb.select("band_id", "band_key",
                                        F.col("__nid").alias("mid"),
                                        F.lit(True).alias("is_new"))))
    stats = (members.groupBy("band_id", "band_key")
             .agg(F.count(F.lit(1)).alias("__bn"),
                  F.min(F.when(~F.col("is_new"), F.col("mid")))
                  .alias("min_hist"),
                  F.min(F.when(F.col("is_new"), F.col("mid")))
                  .alias("min_new")))
    return (newb.join(stats.filter(F.col("__bn") <= max_bucket_size),
                      ["band_id", "band_key"])
            .select("__nid",
                    F.least(
                        "min_hist",
                        F.when(F.col("min_new") < F.col("__nid"),
                               F.col("min_new"))).alias("__dup")))


def ingest_batch(spark: SparkSession, index_path: str, batch: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 num_hashes: int = 16, bands: int = 4,
                 shingle_n: int = 3, max_bucket_size: int = 1024,
                 banded: DataFrame | None = None) -> DataFrame:
    """Label each batch document against the index:
    (id, is_novel, dup_of) — ``dup_of`` is the smallest colliding
    historical id, or the smallest EARLIER batch id, else NULL.
    ``banded`` optionally supplies the batch's pre-computed (ideally
    persisted) band rows so a caller that also appends them pays the
    shingle->minhash->band lineage once, not twice."""
    cand = _ingest_candidates(spark, index_path, batch, text_col,
                              id_col, num_hashes, bands, shingle_n,
                              max_bucket_size, banded)
    verdict = cand.groupBy("__nid").agg(F.min("__dup").alias("dup_of"))
    return (batch.select(id_col)
            .join(verdict, batch[id_col] == verdict["__nid"], "left")
            .select(id_col, F.col("dup_of").isNull().alias("is_novel"),
                    "dup_of"))


def verdicts_from_edges(batch: DataFrame, edges: DataFrame,
                        id_col: str = "doc_id") -> DataFrame:
    """Derive the (id, is_novel, dup_of) verdicts from an already-
    computed edge frame (:func:`ingest_cluster_edges`): dup_of is the
    minimum link target, novel means no edge — algebraically
    identical to :func:`ingest_batch` (both reduce the same candidate
    frame; the global min over per-bucket links IS the verdict), so a
    cluster-maintaining caller pays the index-band candidate pass
    ONCE per batch instead of twice."""
    verdict = edges.groupBy("a").agg(F.min("b").alias("dup_of"))
    return (batch.select(id_col)
            .join(verdict, batch[id_col] == verdict["a"], "left")
            .select(id_col, F.col("dup_of").isNull().alias("is_novel"),
                    "dup_of"))


def ingest_cluster_edges(spark: SparkSession, index_path: str,
                         batch: DataFrame | None = None,
                         text_col: str = "text", id_col: str = "doc_id",
                         num_hashes: int = 16, bands: int = 4,
                         shingle_n: int = 3, max_bucket_size: int = 1024,
                         banded: DataFrame | None = None) -> DataFrame:
    """The batch's cluster-maintenance edges (a=batch doc, b=link
    target): ONE edge per (doc, bucket) to the bucket's min
    historical / min earlier-batch member — the connectivity the
    verdict's global min discards. A batch doc that collides with
    members of TWO existing clusters keeps both edges, so folding
    merges the clusters exactly as a batch re-clustering of the
    cumulative corpus would (the bridge-doc case a dup_of-only
    maintenance silently splits). Persist alongside the delta via
    ``append_bands(cluster_edges=...)``; fold with
    :func:`cluster_labels` / :func:`compact_band_index`.

    Scale: bounded by the candidate frame — bands-per-doc edges per
    batch doc at worst, digest-free (two id columns), never O(m^2)
    in a bucket."""
    cand = _ingest_candidates(spark, index_path, batch, text_col,
                              id_col, num_hashes, bands, shingle_n,
                              max_bucket_size, banded)
    return (cand.filter(F.col("__dup").isNotNull())
            .select(F.col("__nid").alias("a"),
                    F.col("__dup").alias("b"))
            .distinct())


def append_bands(spark: SparkSession, index_path: str, batch: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 num_hashes: int = 16, bands: int = 4,
                 shingle_n: int = 3, tag: str | None = None,
                 banded: DataFrame | None = None,
                 cluster_edges: DataFrame | None = None) -> int:
    """Publish the batch's band rows as a delta generation so the
    next ingest sees them; returns the generation number. ``tag`` is
    the generation's writer tag (operators/lsm.py);
    ``banded`` reuses a pre-computed banding (see ingest_batch);
    ``cluster_edges`` (from :func:`ingest_cluster_edges`) rides the
    SAME atomic rename so cluster maintenance can never observe a
    delta whose bands landed but whose edges did not.

    On an index that carries cluster state (``clusters/`` present),
    ``cluster_edges`` is REQUIRED: cluster_labels folds only deltas
    that ship edges, and compact_band_index rewrites ``clusters/``
    without an edge-less delta's links — one plain append would
    permanently and undetectably stale the maintained membership
    (the bands compact in; the edges can never be recomputed without
    re-reading historical text). Pass ``cluster_edges=`` (the
    streaming sink auto-detects and does this) or build the index
    with ``clusters=False``."""
    if cluster_edges is None and \
            os.path.isdir(os.path.join(index_path, "clusters")):
        raise ValueError(
            f"index at {index_path} maintains cluster state "
            "(clusters/ present) but append_bands was called without "
            "cluster_edges — the delta's links would be silently lost "
            "at the next compaction; pass "
            "cluster_edges=ingest_cluster_edges(...)")
    if banded is None:
        banded = _minhash_banded(batch, text_col, id_col,
                                 num_hashes, bands, shingle_n)

    def write(stage: str) -> None:
        _write_bands(banded, f"{stage}/bands")
        if cluster_edges is not None:
            cluster_edges.write.mode("overwrite") \
                .parquet(f"{stage}/cluster_edges")

    return lsm.append_generation(index_path, write, tag)


def cluster_labels(spark: SparkSession, index_path: str,
                   id_col: str = "doc_id") -> DataFrame:
    """The maintained near-dup cluster membership: non-trivial
    (id, cluster_id) labels over everything the index has absorbed —
    base corpus plus every published delta's cluster edges. With no
    pending edge deltas this is a plain scan of ``clusters/`` (the
    freshly-built / freshly-compacted fast path); otherwise the base
    labels act as STAR EDGES (doc -> representative preserves each
    cluster's connectivity exactly) unioned with the delta edges, and
    one bounded min-label propagation
    (operators/dedup.connected_components) folds the forest — so a
    delta doc that bridges two existing clusters merges them, and
    every member relabels to the new min. Docs absent from the output
    are singletons (label themselves); callers COALESCE.

    Scale: the folded graph is DUPLICATE-COHORT sized (non-trivial
    labels + delta edges), never corpus sized — the 100 TB corpus
    contributes only the members that actually cluster."""
    cl = os.path.join(index_path, "clusters")
    if not os.path.isdir(cl):
        raise FileNotFoundError(
            f"index at {index_path} has no cluster state — build with "
            "build_band_index(..., clusters=True)")
    base = spark.read.parquet(cl)
    edge_dirs = [os.path.join(d, "cluster_edges")
                 for _, d in lsm.generations(index_path)]
    edge_dirs = [d for d in edge_dirs if os.path.isdir(d)]
    if not edge_dirs:
        return base.select(id_col, "cluster_id")
    from functools import reduce

    delta_e = reduce(lambda a, b: a.unionByName(b),
                     [spark.read.parquet(d).select("a", "b")
                      for d in edge_dirs])
    edges = base.select(F.col(id_col).alias("a"),
                        F.col("cluster_id").alias("b")) \
                .unionByName(delta_e)
    comp = connected_components(edges, "a", "b")
    return (comp.filter(F.col("node") != F.col("label"))
            .select(F.col("node").alias(id_col),
                    F.col("label").alias("cluster_id")))


def band_index_stats(spark: SparkSession, index_path: str,
                     id_col: str = "doc_id",
                     max_bucket_size: int = 1024) -> DataFrame:
    """Per-band health of the served index: (band_id, n_rows,
    n_buckets, max_bucket, n_over_cap) — the numbers an LSH
    deployment alerts on. ``max_bucket`` and ``n_over_cap`` surface
    the hot-bucket population (boilerplate/adversarial cohorts) that
    the candidate cap excludes from pair emission: when a band's
    over-cap count grows, the corpus needs re-banding with a longer
    signature or an exact-dedup pre-pass on those cohorts — the
    r3-era cap adjudication, now measurable per index instead of
    rediscovered per incident.

    Scale: one shuffle on (band_id, band_key) with map-side partial
    aggregation over digest-width rows, then a ≤ ``bands``-row
    rollup. No document text is touched."""
    bk = (_index_bands(spark, index_path, id_col)
          .groupBy("band_id", "band_key")
          .agg(F.count(F.lit(1)).alias("m")))
    return (bk.groupBy("band_id")
            .agg(F.sum("m").cast("long").alias("n_rows"),
                 F.count(F.lit(1)).cast("long").alias("n_buckets"),
                 F.max("m").cast("long").alias("max_bucket"),
                 F.sum(F.when(F.col("m") > max_bucket_size, 1)
                       .otherwise(0)).cast("long").alias("n_over_cap")))


def compact_band_index(spark: SparkSession, index_path: str,
                       id_col: str = "doc_id") -> int:
    """Fold deltas into a fresh base; returns the number of
    generations folded. On a clustered index the maintained labels
    fold too: the union-find forest (base star edges + delta cluster
    edges) collapses into a fresh non-trivial label table, so
    post-compaction cluster reads are a plain scan again."""

    def write(stage: str) -> None:
        _write_bands(_index_bands(spark, index_path, id_col),
                     f"{stage}/bands")
        if os.path.isdir(os.path.join(index_path, "clusters")):
            # fold BEFORE the publish swaps the old base out: the write
            # materializes the propagation while base+deltas still exist
            cluster_labels(spark, index_path, id_col) \
                .write.mode("overwrite").parquet(f"{stage}/clusters")

    return lsm.compact(index_path, write)
