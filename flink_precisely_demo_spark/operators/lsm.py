"""The generation store every maintained index shares: one publish,
append, tag and compaction protocol over plain directories.

An index at ``<index_path>`` is a **base** plus zero or more **delta
generations**:

- **Base publish** (:func:`publish_base`): the writer fills a unique
  ``<index_path>.build-<pid>-<hex>`` stage, writes ``_INDEX_OK`` into
  it, then swaps it in with two renames — the old index aside to
  ``<index_path>.old-<nonce>``, the stage into place — and removes
  the aside dir. Readers accept only marker-bearing dirs
  (:func:`index_ok`), so a crashed build is never half-read. Any
  sibling the stage left (``<stage>.applied.json``, ``<stage>.<x>``)
  moves to ``<index_path>.<x>`` the same way.
- **Generations** (:func:`append_generation`): generation ``seq``
  stages under ``deltas/.stage-<nonce>``, gets its optional writer tag
  in ``_TAG`` and its ``_DELTA_OK`` marker, and publishes by one
  rename to ``deltas/delta-<seq:06d>-<nonce>``. Only marked,
  renamed dirs are generations (:func:`generations`); seq 0 is the
  base.
- **Tags and the manifest**: a tag rides its generation's rename, so
  "batch applied" and "batch visible" are one atomic fact
  (:func:`delta_tags`). Compaction folds generations away, so
  :func:`compact` first merges the live tags into the sibling
  manifest ``<index_path>.applied.json`` (outside the index dir, so
  the publish never touches it); :func:`applied_tags` is manifest ∪
  live tags. A crash between the manifest write and the fold only
  repeats tags in a set union, never loses one.
- **Reconcile** (:func:`live_rows`): a row from generation ``g`` is
  live iff no tombstone with generation ``> g`` names its id.
  :func:`upsert` writes such a generation: rows for the updated ids
  plus a typed tombstone set for every updated or deleted id.
- **Crash litter**: stage, aside and delta-stage dirs carry their
  writer's pid and are removed once that pid is dead; live pids are
  left alone, so concurrent writers never destroy each other. One
  exception: a publish that died between its two renames leaves no
  index, a dead ``.old-N`` and a marked ``.build-N``; that stage is
  the newest complete index (and holds every folded generation), so
  it is rolled forward instead of reaped.

Each index module keeps only its data layout and its read/merge
rules; single writer per index, as for the build. On an object store
the analogue of the double rename is a versioned prefix plus a
pointer flip.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INDEX_OK = "_INDEX_OK"
DELTA_OK = "_DELTA_OK"
TAG = "_TAG"
_DELTA_RE = re.compile(r"delta-(\d{6})-")


def _nonce() -> str:
    return f"{os.getpid()}-{uuid.uuid4().hex[:8]}"


def _pid_dead(suffix: str) -> bool:
    """``suffix`` starts with ``<pid>-``; True when that process is
    gone (a name that does not parse counts as dead litter)."""
    try:
        os.kill(int(suffix.split("-")[0]), 0)
    except (ValueError, ProcessLookupError):
        return True
    except PermissionError:
        pass                                # alive, not ours
    return False


def _mark(path: str, name: str, text: str = "ok") -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write(text + "\n")


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


def _swap(src: str, dst: str, aside: str) -> None:
    """Move ``dst`` aside, ``src`` into place, then drop the aside:
    the window with no ``dst`` is one rename pair, not an rmtree."""
    try:
        os.rename(dst, aside)
    except FileNotFoundError:
        aside = None                        # first publish
    os.rename(src, dst)
    if aside is not None:
        _remove(aside)


def _carry_siblings(stage: str, final: str, nonce: str) -> None:
    """Move every ``<stage>.<x>`` to ``<final>.<x>``."""
    parent, name = os.path.split(stage)
    for sib in os.listdir(parent):
        if sib.startswith(name + "."):
            suffix = sib[len(name):]
            _swap(os.path.join(parent, sib), final + suffix,
                  f"{final}.old-{nonce}{suffix}")


def _reap(index_path: str) -> None:
    """Roll a torn publish forward, then remove the stage and aside
    remains (dirs and sibling files) of dead writers."""
    parent, base = os.path.split(os.path.abspath(index_path))
    if not os.path.isdir(parent):
        return
    names = os.listdir(parent)
    if not os.path.isdir(index_path):
        olds = {n[len(base + ".old-"):] for n in names
                if n.startswith(base + ".old-")}
        for n in sorted(names, reverse=True):
            nonce = n[len(base + ".build-"):]
            stage = os.path.join(parent, n)
            if (n.startswith(base + ".build-") and nonce in olds
                    and _pid_dead(nonce)
                    and os.path.isfile(os.path.join(stage, INDEX_OK))):
                try:
                    os.rename(stage, index_path)
                    _carry_siblings(stage, index_path, nonce)
                except OSError:
                    pass                    # another reader rolled it
                names = os.listdir(parent)
                break
    for n in names:
        for kind in (".build-", ".old-"):
            if n.startswith(base + kind) and _pid_dead(n[len(base + kind):]):
                _remove(os.path.join(parent, n))


def _reap_stages(root: str) -> None:
    for n in os.listdir(root):
        if n.startswith(".stage-") and _pid_dead(n[len(".stage-"):]):
            shutil.rmtree(os.path.join(root, n), ignore_errors=True)


def index_ok(index_path: str) -> bool:
    """True only for a completely built index (marker present)."""
    if not os.path.isdir(index_path):
        _reap(index_path)
    return os.path.isfile(os.path.join(index_path, INDEX_OK))


def publish_base(index_path: str, write: Callable[[str], None]) -> None:
    """``write(stage)`` fills a fresh stage dir; it is marked and
    swapped in as the index, and its siblings follow it."""
    _reap(index_path)
    nonce = _nonce()
    stage = f"{index_path}.build-{nonce}"
    write(stage)
    _mark(stage, INDEX_OK)
    _swap(stage, index_path, f"{index_path}.old-{nonce}")
    _carry_siblings(stage, index_path, nonce)


def generations(index_path: str) -> list[tuple[int, str]]:
    """Published delta generations as (seq, dir), ascending."""
    if not os.path.isdir(index_path):
        _reap(index_path)
    root = os.path.join(index_path, "deltas")
    out = []
    for name in os.listdir(root) if os.path.isdir(root) else []:
        m = _DELTA_RE.match(name)
        d = os.path.join(root, name)
        if m and os.path.isfile(os.path.join(d, DELTA_OK)):
            out.append((int(m.group(1)), d))
    out.sort()
    return out


def append_generation(index_path: str, write: Callable[[str], None],
                      tag: str | None = None) -> int:
    """Publish ``write(stage)`` as the next generation, carrying
    ``tag``; returns its sequence number."""
    if not index_ok(index_path):
        raise FileNotFoundError(f"no published index at {index_path}")
    gens = generations(index_path)
    seq = (gens[-1][0] + 1) if gens else 1
    root = os.path.join(index_path, "deltas")
    os.makedirs(root, exist_ok=True)
    _reap_stages(root)
    nonce = _nonce()
    stage = os.path.join(root, f".stage-{nonce}")
    write(stage)
    if tag is not None:
        _mark(stage, TAG, tag)
    _mark(stage, DELTA_OK)
    os.rename(stage, os.path.join(root, f"delta-{seq:06d}-{nonce}"))
    return seq


def delta_tags(index_path: str) -> set[str]:
    """Writer tags riding the published generations."""
    out = set()
    for _, d in generations(index_path):
        tag_file = os.path.join(d, TAG)
        if os.path.isfile(tag_file):
            with open(tag_file) as f:
                out.add(f.read().strip())
    return out


def _manifest_path(index_path: str) -> str:
    return index_path.rstrip("/") + ".applied.json"


def applied_tags(index_path: str) -> set[str]:
    """Every writer tag the index has absorbed: manifest ∪ live."""
    try:
        with open(_manifest_path(index_path)) as f:
            persisted = set(json.load(f))
    except (FileNotFoundError, json.JSONDecodeError):
        persisted = set()
    return persisted | delta_tags(index_path)


def read_json(index_path: str, name: str) -> dict:
    """A JSON file of the published index."""
    index_ok(index_path)                    # rolls a torn publish forward
    with open(os.path.join(index_path, name)) as f:
        return json.load(f)


def write_json(stage: str, name: str, obj) -> None:
    with open(os.path.join(stage, name), "w") as f:
        json.dump(obj, f)


def compact(index_path: str, write: Callable[[str], None]) -> int:
    """Fold the generations: persist the live tags, then publish
    ``write(stage)`` — which reads base + generations from
    ``index_path`` — as the new base. Returns the number folded."""
    gens = generations(index_path)
    if not gens:
        return 0
    if delta_tags(index_path):
        path = _manifest_path(index_path)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(sorted(applied_tags(index_path)), f)
        os.rename(tmp, path)
    publish_base(index_path, write)
    return len(gens)


def upsert(spark: SparkSession, index_path: str, id_col: str,
           touched: DataFrame | None, delete_ids,
           write_rows: Callable[[str], None], id_sub: str,
           tag: str | None = None) -> int:
    """Append one tombstoned generation. ``touched`` holds the update
    rows' ids (as ``id_col``); ``write_rows(stage)`` lays the update
    rows down and is skipped when there are none (a zero-row
    partitioned write leaves a dir no later read can infer a schema
    from). ``delete_ids`` is a one-column DataFrame or an iterable;
    an iterable is typed from ``<index_path>/<id_sub>``'s ``id_col``
    so its tombstones union and anti-join with the index's ids."""
    if touched is None and delete_ids is None:
        raise ValueError("upsert: nothing to apply "
                         "(updates and delete_ids both None)")

    def write(stage: str) -> None:
        frames = []
        if touched is not None:
            frames.append(touched.distinct())
            if not touched.isEmpty():
                write_rows(stage)
        if delete_ids is not None:
            if isinstance(delete_ids, DataFrame):
                dels = delete_ids.toDF(id_col).distinct()
            else:
                from pyspark.sql import types as T

                id_type = spark.read.parquet(f"{index_path}/{id_sub}") \
                    .schema[id_col].dataType
                dels = spark.createDataFrame(
                    [(i,) for i in delete_ids],
                    T.StructType([T.StructField(id_col, id_type)]))
            frames.append(dels)
        reduce(lambda a, b: a.unionByName(b), frames).distinct() \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{stage}/tombstones")

    return append_generation(index_path, write, tag)


def live_rows(spark: SparkSession, index_path: str, sub: str,
              id_col: str,
              scan: Callable[[str], DataFrame] | None = None
              ) -> DataFrame:
    """Reconciled ``sub`` rows across base + generations. ``scan``
    reads one generation's ``sub`` dir (default: plain parquet read;
    callers prune partitions there). With no generations this is the
    plain base scan; otherwise the tombstone rule is one equi-join on
    id plus the generation inequality — a broadcast left-anti join
    while the tombstone set is small."""
    from .broadcast import hint_broadcast_if_small

    scan = scan or spark.read.parquet
    gens = generations(index_path)        # rolls a torn publish forward
    base = scan(f"{index_path}/{sub}")
    if not gens:
        return base
    frames = [base.withColumn("_gen", F.lit(0))]
    tombs = []
    for seq, d in gens:
        sdir = os.path.join(d, sub)
        if os.path.isdir(sdir):           # pure-delete generations have none
            frames.append(scan(sdir).withColumn("_gen", F.lit(seq)))
        tombs.append(spark.read.parquet(os.path.join(d, "tombstones"))
                     .select(F.col(id_col).alias("_t_id"),
                             F.lit(seq).alias("_t_gen")))
    allr = reduce(lambda a, b: a.unionByName(b), frames)
    tomb = hint_broadcast_if_small(
        reduce(lambda a, b: a.unionByName(b), tombs))
    live = allr.join(
        tomb, (allr[id_col] == tomb["_t_id"]) &
              (tomb["_t_gen"] > allr["_gen"]), "left_anti")
    return live.drop("_gen")
