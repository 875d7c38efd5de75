"""Persistent IVF ANN index (operators/ann_index.py): recall floor vs
exact brute force, incremental ingest with idempotent replay, and the
partition-pruned search scan."""

import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from easy_sql_spark.operators.ann_index import IVFIndex

SF = "/root/testdata/sf0.01"


@pytest.fixture()
def root(tmp_path):
    yield str(tmp_path / "ivf")
    shutil.rmtree(tmp_path, ignore_errors=True)


def _vecs(spark, lo, hi):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    )


def _brute_topk(spark, corpus, queries, topk):
    dot = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (a, z) -> a + z)"
    )
    norm = lambda c: F.sqrt(F.expr(
        f"aggregate(transform({c}, t -> t * t), 0D, (acc, z) -> acc + z)"
    ))
    w = Window.partitionBy("query_id").orderBy(
        (dot / (norm("qv") * norm("v"))).desc(), "vec_id"
    )
    return (
        queries.crossJoin(corpus)
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )


def test_recall_floor_and_incremental_ingest(spark, root):
    idx = IVFIndex(spark, root)
    idx.create(_vecs(spark, 0, 400), k=8, iters=2)
    idx.ingest(_vecs(spark, 400, 500), batch_id=0)
    # replayed batch id: no new version (exactly-once ingest)
    v = idx.table.latest_version()
    idx.ingest(_vecs(spark, 400, 500), batch_id=0)
    assert idx.table.latest_version() == v
    assert idx.table.read().count() == 500

    queries = _vecs(spark, 0, 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    topk = 10
    got = idx.search(queries, topk=topk, nprobe=4)
    exact = _brute_topk(
        spark, _vecs(spark, 0, 500), queries, topk
    )
    got_set = {(r.query_id, r.neighbor_id) for r in got.collect()}
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(got_set) == 5 * topk
    recall = len(got_set & exact_set) / len(exact_set)
    assert recall >= 0.5, f"recall@{topk} collapsed: {recall}"
    # every probed neighbor really is an indexed vector
    assert all(0 <= n < 500 for _, n in got_set)


def test_search_scans_only_probed_cells(spark, root):
    idx = IVFIndex(spark, root)
    idx.create(_vecs(spark, 0, 400), k=8, iters=2)
    queries = _vecs(spark, 0, 2).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    res = idx.search(queries, topk=5, nprobe=2)
    touched = {
        f.split("cell=")[1].split("/")[0]
        for f in res.inputFiles()
        if "cell=" in f
    }
    all_cells = {
        f.split("cell=")[1].split("/")[0]
        for f in idx.table.read().inputFiles()
        if "cell=" in f
    }
    # <= 2 queries x 2 probes = at most 4 cells of the 8 are listed
    assert len(touched) <= 4 < len(all_cells)
    res.collect()  # and the pruned plan actually executes


def test_create_twice_refused(spark, root):
    idx = IVFIndex(spark, root)
    idx.create(_vecs(spark, 0, 50), k=4, iters=1)
    with pytest.raises(ValueError, match="already exists"):
        IVFIndex(spark, root).create(_vecs(spark, 0, 50), k=4, iters=1)
