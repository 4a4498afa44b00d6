"""Streaming maintenance of the served inverted text index: each
micro-batch of document mutations — fresh pages, re-crawled texts,
takedowns — becomes exactly ONE delta generation of the LSM inverted
index (operators/text_index.py): update rows re-tokenize, deletes
become tombstones. Retry idempotence, the foreign-checkpoint guard
and scheduled compaction are the shared tag-sink contract
(streaming/epoch_sink.py).

Scale: per trigger the work is batch-sized (one tokenize pass +
bucket-partitioned write); reads pay the accumulated delta until the
scheduled compaction (``compact_every`` published generations)
resets the base — the knob that keeps the tombstone set
broadcast-sized forever on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.text_index import compact_text_index, upsert_text_index
from .epoch_sink import drain, split_ops, tag_sink


def text_index_sink(index_path: str, text_col: str = "text",
                    id_col: str = "doc_id", op_col: str | None = "op",
                    compact_every: int | None = None):
    """Returns the ``foreachBatch`` function. Batch rows with
    ``op_col == 'D'`` delete their ids; every other row (re)defines
    its document's postings from ``text_col``. ``op_col=None``
    treats all rows as upserts. With ``compact_every=k``, the index
    compacts whenever k delta generations have accumulated."""

    def apply(batch_df: DataFrame, tag: str) -> int | None:
        updates, deletes = split_ops(batch_df, op_col, id_col, text_col)
        if updates is None and deletes is None:
            return None                  # empty trigger: nothing to apply
        return upsert_text_index(batch_df.sparkSession, index_path,
                                 updates, deletes, tag=tag)

    return tag_sink("text_index_sink", index_path, apply,
                    compact_text_index, compact_every)


def run_text_index_ingest(mutations: DataFrame, index_path: str,
                          checkpoint: str, **kwargs):
    """Drain a streaming mutation DataFrame into the index
    (availableNow). Returns the finished StreamingQuery."""
    return drain(mutations, text_index_sink(index_path, **kwargs),
                 checkpoint)
