"""Materialized IVF index: build/query correctness, recall, and the
partition-pruning property that makes it the 100 TB serving path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.ann_index import (
    build_ann_index,
    load_centroids,
    query_ann,
)
from flink_precisely_demo_spark.operators.similarity import brute_force_topk
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"
K_CELLS = 4


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ann") / "idx")
    emb = load_table(spark, SF, "embeddings")
    build_ann_index(emb, path, k_cells=K_CELLS, max_iter=2)
    return path


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_index_layout(spark, index_path):
    cell_ids, cent = load_centroids(spark, index_path)
    assert list(cell_ids) == list(range(K_CELLS))
    vecs = spark.read.parquet(f"{index_path}/vectors")
    emb = load_table(spark, SF, "embeddings")
    # every corpus vector is in exactly one cell
    assert vecs.count() == emb.count()
    assert vecs.select("vec_id").distinct().count() == emb.count()
    assert vecs.select("cell_id").distinct().count() <= K_CELLS


def test_nprobe_all_equals_brute_force(spark, index_path):
    """Probing every cell degenerates to exact search: identical
    result set to brute force over the raw corpus."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    exact = brute_force_topk(emb, queries, k=3)
    via_index = query_ann(spark, index_path, queries, k=3, nprobe=K_CELLS)
    assert sorted(map(tuple, exact.collect())) == \
        sorted(map(tuple, via_index.collect()))


def test_nprobe_recall(spark, index_path):
    """nprobe=2 of 4 cells must recover most exact neighbors (the
    corpus is clustered, so the right cells dominate)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = _topk_sets(brute_force_topk(emb, queries, k=3))
    approx = _topk_sets(query_ann(spark, index_path, queries, k=3, nprobe=2))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.5, f"recall {hits}/{total}"


def test_query_scan_is_partition_pruned(spark, index_path):
    """The probed-cells filter must reach the scan as a partition
    filter — at 100 TB this is the difference between reading
    nprobe/k_cells of the corpus and reading all of it."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2)
    df = query_ann(spark, index_path, queries, k=3, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the filter segment must actually name cell_id (an empty
    # `PartitionFilters: []` means the scan reads every cell)
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell_id" in seg


def test_crashed_build_remains_do_not_poison_serving(spark, tmp_path):
    """A half-written index dir (as left by a killed build: subdirs
    present, no _INDEX_OK marker) must be detected as invalid and
    replaced by the next build — a crashed writer must never poison
    readers (r7 regression: a concurrently-killed build left
    centroids/_temporary that broke the next process)."""
    import os

    from flink_precisely_demo_spark.operators.ann_index import (
        build_ann_index,
        load_centroids,
    )
    from flink_precisely_demo_spark.operators.lsm import index_ok
    from flink_precisely_demo_spark.sources.parquet import load_table

    path = str(tmp_path / "idx")
    # simulate crashed remains
    os.makedirs(os.path.join(path, "centroids", "_temporary", "0"))
    os.makedirs(os.path.join(path, "vectors"))
    assert not index_ok(path)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    build_ann_index(emb, path, k_cells=4, max_iter=1)
    assert index_ok(path)
    cell_ids, cents = load_centroids(spark, path)
    assert len(cell_ids) == 4
    # a crashed-midway BUILD dir (dead pid in its name) is reaped by
    # the next build; a LIVE builder's dir must be left alone — the
    # unique-name scheme is what lets concurrent builders coexist
    dead = path + ".build-999999999-deadbeef"
    live = path + f".build-{os.getpid()}-cafef00d"
    os.makedirs(os.path.join(dead, "vectors"), exist_ok=True)
    os.makedirs(os.path.join(live, "vectors"), exist_ok=True)
    build_ann_index(emb, path, k_cells=4, max_iter=1)
    assert index_ok(path)
    assert not os.path.isdir(dead), "dead build dir not reaped"
    assert os.path.isdir(live), "live builder's dir clobbered"
    # the publish leaves no .old remains either
    leftovers = [n for n in os.listdir(str(tmp_path))
                 if ".old-" in n or n == "idx.build"]
    assert leftovers == []
