"""The one epoch guard every ``foreachBatch`` sink shares.

Structured Streaming hands ``foreachBatch`` a batch id that is the
sink's only notion of time, and two facts about it shape every sink
writing a store outside Spark's checkpoint:

- **Retry.** A batch whose epoch did not commit runs again with the
  same id. A versioned rewrite (``cdc_upsert``, ``streaming_dedup``:
  batch N writes ``<kind>_v<N>`` from versions < N) is retry-safe by
  construction. A generation append (the four maintained-index
  sinks) is not, so those sinks tag their generation ``b<batch_id>``
  (the tag rides the generation's atomic rename and survives
  compaction in the applied manifest — operators/lsm.py) and skip a
  batch whose tag is already applied.
- **Foreign checkpoint.** Batch ids restart at 0 under a fresh or
  replaced checkpoint. A store that already absorbed a batch id
  greater than the one being written belongs to a different
  checkpoint; writing anyway would silently ignore or re-mutate its
  state, so :func:`guard_epoch` fails fast. An equal id is a retry,
  never a conflict.

Each sink keeps only its ``apply(batch_df, tag)`` body;
:func:`tag_sink` wraps it with the applied-tag skip, the guard and
the ``compact_every`` trigger.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.lsm import applied_tags, generations


def guard_epoch(sink: str, store: str, batch_id: int,
                absorbed: Iterable[int]) -> None:
    """Raise when ``store`` already absorbed a batch after
    ``batch_id``."""
    later = [b for b in absorbed if b > batch_id]
    if later:
        raise RuntimeError(
            f"{sink}: store {store!r} already absorbed batch "
            f"{max(later)} but this query is writing batch {batch_id} "
            "— the checkpoint does not belong to this store "
            "(deleted/replaced checkpoint?). Restore the matching "
            "checkpoint or point the sink at a fresh store.")


def tag_sink(sink: str, index_path: str,
             apply: Callable[[DataFrame, str], int | None],
             compact: Callable, compact_every: int | None):
    """The ``foreachBatch`` function of a maintained-index sink.
    ``apply(batch_df, tag)`` appends the batch as one generation
    carrying ``tag`` (``b<batch_id>``, so ``tag[1:]`` names per-batch
    outputs) and returns its seq, or None when the batch had
    nothing to apply; ``compact(spark, index_path)`` runs whenever
    ``compact_every`` generations have accumulated."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"b{batch_id}"
        applied = applied_tags(index_path)
        if tag in applied:
            return                       # foreachBatch retry: no-op
        guard_epoch(sink, index_path, batch_id,
                    [int(t[1:]) for t in applied
                     if t.startswith("b") and t[1:].isdigit()])
        if apply(batch_df, tag) is not None and compact_every \
                and len(generations(index_path)) >= compact_every:
            compact(batch_df.sparkSession, index_path)

    return apply_batch


def split_ops(batch_df: DataFrame, op_col: str | None, id_col: str,
              *cols: str) -> tuple[DataFrame | None, DataFrame | None]:
    """(updates, deletes) of a mutation batch: rows with
    ``op_col == 'D'`` delete their ids, every other row (re)defines
    ``id_col`` + ``cols``; ``op_col=None`` makes every row an update.
    An empty side is None."""
    if op_col is not None:
        updates = batch_df.filter(F.col(op_col) != "D") \
                          .select(id_col, *cols)
        deletes = batch_df.filter(F.col(op_col) == "D").select(id_col)
        if deletes.isEmpty():
            deletes = None
    else:
        updates, deletes = batch_df.select(id_col, *cols), None
    if updates.isEmpty():
        updates = None
    return updates, deletes


def drain(stream: DataFrame, batch_fn, checkpoint: str):
    """Run ``stream`` through ``batch_fn`` (availableNow) and return
    the finished StreamingQuery."""
    q = (stream.writeStream
         .foreachBatch(batch_fn)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
