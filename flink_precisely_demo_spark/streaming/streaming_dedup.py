"""Streaming NEAR-duplicate dedup: micro-batch minhash + LSH-bucket
state store.

``dropDuplicatesWithinWatermark`` covers exact dedup only. A training
-data ingest stream also needs near-dup suppression ("this crawled
page is a boilerplate variant of one we already kept"), which no
built-in stateful operator expresses. The streaming formulation here
reuses the batch minhash kernels (operators/dedup.py — the SAME
signature family, band layout and bucket rule as the oracle-checked
batch operators) under ``foreachBatch`` with a persistent bucket
store:

- per micro-batch, compute each document's LSH band digests
  (``_minhash_banded``: Arrow-batched map-side signatures, one
  groupBy shuffle of 16 longs per doc);
- a doc is suppressed if ANY of its band digests matches the store
  (near-dup of an earlier-batch survivor) or a smaller-id doc in the
  same batch (the batch operators' keep=min rule, applied per
  bucket);
- survivors' rows append to the output store and their band digests
  to the bucket store, both as batch-versioned directories rewritten
  idempotently on replay (the versioned-rewrite side of
  streaming/epoch_sink.py).

Scale: the per-batch work is the batch kernel's (map-side signatures,
band-key equi-joins — no pairwise comparison anywhere); the bucket
store grows with the number of SURVIVORS × bands, is equi-joined on
(band_id, band_key) each batch, and on a real deployment is a table
partitioned by band_id with old versions vacuumed (vacuum_buckets
below). Bounding state by TIME instead (forget buckets older than a
watermark, trading global dedup for windowed dedup) is the same
vacuum call driven by a retention policy.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _minhash_banded
from .epoch_sink import drain, guard_epoch

_BUCKET_RE = re.compile(r"^buckets_v(\d+)$")
_OUT_RE = re.compile(r"^batch_v(\d+)$")


def _versions(path: str, pat: re.Pattern) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(int(m.group(1)) for n in names if (m := pat.match(n)))


BUCKET_SCHEMA = "band_id int, band_key string"


def _snapshot_marker(store_path: str, v: int) -> str:
    return os.path.join(store_path, f"buckets_v{v}", "_SNAPSHOT")


def _known_paths(store_path: str, batch_id: int) -> list[str]:
    """Bucket-version paths carrying all state before ``batch_id``:
    the newest snapshot below it plus the deltas after that snapshot
    — bounded read width regardless of stream age."""
    prior = [v for v in _versions(store_path, _BUCKET_RE) if v < batch_id]
    snaps = [v for v in prior if os.path.exists(_snapshot_marker(store_path, v))]
    base = max(snaps) if snaps else None
    take = [v for v in prior if base is None or v >= base]
    return [os.path.join(store_path, f"buckets_v{v}") for v in take]


def near_dup_dedup_sink(store_path: str, out_path: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 4,
                        shingle_n: int = 3, compact_every: int = 16):
    """Returns the ``foreachBatch`` function. ``store_path`` holds the
    versioned LSH bucket state, ``out_path`` the surviving rows.

    Every ``compact_every`` batches the bucket write is a SNAPSHOT
    (all known digests folded into one version, marked with a
    ``_SNAPSHOT`` file) instead of a delta, so the per-batch read is
    one snapshot + at most ``compact_every`` deltas no matter how
    long the stream has run. Old pre-snapshot versions stay on disk
    for replay until ``vacuum_buckets`` removes them — the same
    write-versioned/compact/vacuum lifecycle a lakehouse table uses."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        guard_epoch("near_dup_dedup_sink", store_path, batch_id,
                    _versions(store_path, _BUCKET_RE))

        banded = _minhash_banded(batch_df.select(id_col, text_col),
                                 text_col, id_col, num_hashes, bands,
                                 shingle_n).persist()
        try:
            known_dirs = _known_paths(store_path, batch_id)
            known = None
            if known_dirs:
                known = spark.read.schema(BUCKET_SCHEMA).parquet(*known_dirs)
            if known is not None:
                cross_dup = (banded
                             .join(known, ["band_id", "band_key"],
                                   "leftsemi")
                             .select(id_col).distinct())
            else:
                cross_dup = None

            # in-batch rule: suppressed if a smaller id shares a
            # bucket. Mins are computed over the FULL batch — including
            # cross-batch-suppressed docs — so a chain B~A~store
            # suppresses B exactly as one batch run over
            # (prior survivors + this batch) would: A still rules its
            # in-batch bucket even when the store suppresses A itself.
            mins = banded.groupBy("band_id", "band_key") \
                         .agg(F.min(id_col).alias("__keep"))
            in_dup = (banded.join(mins, ["band_id", "band_key"])
                            .filter(F.col(id_col) > F.col("__keep"))
                            .select(id_col).distinct())
            suppressed = (in_dup if cross_dup is None
                          else in_dup.unionByName(cross_dup).distinct())
            surv_buckets = banded.join(suppressed, id_col, "left_anti")

            # null-text rows have no signature (the kernels drop them
            # by null propagation): they can't be near-dups of
            # anything, so they pass through rather than vanish
            survivors = batch_df.join(
                surv_buckets.select(id_col).distinct(),
                id_col, "leftsemi").unionByName(
                batch_df.filter(F.col(text_col).isNull()))
            survivors.write.mode("overwrite").parquet(
                os.path.join(out_path, f"batch_v{batch_id}"))
            new_buckets = surv_buckets.select("band_id", "band_key")
            snapshot = (compact_every and batch_id > 0
                        and batch_id % compact_every == 0)
            if snapshot and known is not None:
                new_buckets = known.unionByName(new_buckets)
            bucket_dir = os.path.join(store_path, f"buckets_v{batch_id}")
            new_buckets.write.mode("overwrite").parquet(bucket_dir)
            if snapshot:
                with open(os.path.join(bucket_dir, "_SNAPSHOT"), "w") as f:
                    f.write("compacted through all prior versions\n")
        finally:
            banded.unpersist()
    return apply_batch


def run_near_dup_dedup(docs: DataFrame, store_path: str, out_path: str,
                       checkpoint: str, **kwargs):
    """Drain a streaming document DataFrame through the near-dup
    dedup sink (availableNow). Returns the StreamingQuery."""
    return drain(docs, near_dup_dedup_sink(store_path, out_path, **kwargs),
                 checkpoint)


def dedup_survivors(spark: SparkSession, out_path: str) -> DataFrame:
    """All surviving rows across batches."""
    versions = _versions(out_path, _OUT_RE)
    if not versions:
        raise FileNotFoundError(f"no dedup output under {out_path}")
    return spark.read.parquet(*[
        os.path.join(out_path, f"batch_v{v}") for v in versions])


def vacuum_buckets(store_path: str, before_version: int) -> list[int]:
    """Drop bucket versions < ``before_version``. Two uses:

    - post-compaction cleanup: pass a SNAPSHOT version (once the
      checkpoint has committed past it) — reads lose nothing, the
      snapshot carries all prior state;
    - retention/TTL policy: pass any version — dropped deltas turn
      global near-dup dedup into windowed near-dup dedup (state
      bounded, older documents can re-enter), the same trade
      dropDuplicatesWithinWatermark makes for exact dedup."""
    import shutil

    doomed = [v for v in _versions(store_path, _BUCKET_RE)
              if v < before_version]
    for v in doomed:
        shutil.rmtree(os.path.join(store_path, f"buckets_v{v}"),
                      ignore_errors=True)
    return doomed
