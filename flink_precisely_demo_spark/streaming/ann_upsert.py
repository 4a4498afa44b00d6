"""Streaming maintenance of the served ANN index: each micro-batch of
(id, vector, op) mutations — fresh documents, re-embeddings,
takedowns — becomes exactly ONE delta generation of the LSM index
(operators/ann_index.py): updates assign to cells under the existing
centroids, deletes become tombstones. Retry idempotence, the
foreign-checkpoint guard and scheduled compaction are the shared
tag-sink contract (streaming/epoch_sink.py).

Scale: per trigger the work is delta-sized (one assignment scan over
the batch + a cell-partitioned write); reads pay the accumulated
delta until the scheduled compaction (``compact_every`` published
generations) resets the base — the knob that keeps the tombstone
set broadcast-sized forever on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.ann_index import compact_ann_index, upsert_ann_index
from .epoch_sink import drain, split_ops, tag_sink


def ann_upsert_sink(index_path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding", op_col: str | None = "op",
                    compact_every: int | None = None):
    """Returns the ``foreachBatch`` function. Batch rows with
    ``op_col == 'D'`` delete their ids; every other row (re)defines
    its id's vector. ``op_col=None`` treats all rows as upserts.
    With ``compact_every=k``, the index compacts whenever k delta
    generations have accumulated."""

    def apply(batch_df: DataFrame, tag: str) -> int | None:
        updates, deletes = split_ops(batch_df, op_col, id_col, vec_col)
        if updates is None and deletes is None:
            return None                  # empty trigger: nothing to apply
        return upsert_ann_index(batch_df.sparkSession, index_path,
                                updates, deletes, id_col=id_col,
                                vec_col=vec_col, tag=tag)

    return tag_sink(
        "ann_upsert_sink", index_path, apply,
        lambda spark, p: compact_ann_index(spark, p, id_col=id_col,
                                           vec_col=vec_col),
        compact_every)


def run_ann_upsert(mutations: DataFrame, index_path: str,
                   checkpoint: str, **kwargs):
    """Drain a streaming mutation DataFrame into the index
    (availableNow). Returns the finished StreamingQuery."""
    return drain(mutations, ann_upsert_sink(index_path, **kwargs),
                 checkpoint)
