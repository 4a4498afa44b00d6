"""Streaming maintenance of the exact-substring anchor index:
foreachBatch window-delta appends with retry-safe idempotence,
per-batch against-corpus span output, and scheduled compaction —
the fourth maintained index's streaming twin.

Each micro-batch of fresh documents:
1. folds its own text ONCE into stride-1 window hashes,
2. runs the ingest-shaped query — "which verbatim spans does this
   batch share with the absorbed corpus?" — reusing that fold
   (``ingest_substring_spans(windows=...)``), writing the spans to a
   per-batch output dir (overwrite mode, so a retried batch
   re-writes rather than duplicates),
3. appends the fold as one tagged window delta
   (``append_windows(windows=...)``), and
4. compacts on schedule (``compact_every`` published generations).

A retried batch whose tag is already absorbed re-emits NOTHING: the
span output is part of the skipped work by design — the previous
attempt's overwrite-mode write either completed (the spans exist) or
the whole batch re-runs (tag absent). The retry skip, the
foreign-checkpoint guard and the ``compact_every`` trigger are the
shared tag-sink contract (streaming/epoch_sink.py).

Scale: per trigger the work is batch-sized (one O(n·k) window fold
over the batch text + the stats-gated anchor join against matching
absorbed hashes only); historical text is never re-read; reads pay
the uncompacted window until the scheduled compaction resets it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.dedup import sliding_window_hashes
from ..operators.substring_index import (
    append_windows,
    compact_substring_index,
    ingest_substring_spans,
    manifest,
)
from .epoch_sink import drain, tag_sink


def substring_index_sink(index_path: str, text_col: str = "text",
                         id_col: str = "doc_id",
                         spans_out: str | None = None,
                         min_len: int = 24,
                         compact_every: int | None = None):
    """Returns the ``foreachBatch`` function. With ``spans_out``,
    each batch's against-corpus span set lands at
    ``spans_out/batch=<id>/`` (overwrite per batch — retry-safe)."""

    def apply(batch_df: DataFrame, tag: str) -> int | None:
        if batch_df.isEmpty():
            return None                  # empty trigger: nothing to apply
        spark = batch_df.sparkSession
        w = sliding_window_hashes(batch_df, text_col, id_col,
                                  manifest(index_path)["k"]).persist()
        try:
            if spans_out is not None:
                spans = ingest_substring_spans(
                    spark, index_path, batch_df, text_col=text_col,
                    id_col=id_col, min_len=min_len, windows=w)
                spans.write.mode("overwrite").parquet(
                    os.path.join(spans_out, f"batch={tag[1:]}"))
            return append_windows(spark, index_path, batch_df,
                                  text_col=text_col, id_col=id_col,
                                  tag=tag, windows=w)
        finally:
            w.unpersist()

    return tag_sink("substring_index_sink", index_path, apply,
                    compact_substring_index, compact_every)


def run_substring_ingest(docs: DataFrame, index_path: str,
                         checkpoint: str, **kwargs):
    """Drain a streaming document DataFrame into the index
    (availableNow). Returns the finished StreamingQuery."""
    return drain(docs, substring_index_sink(index_path, **kwargs),
                 checkpoint)
