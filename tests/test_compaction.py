"""Small-file compaction (`backend.compact_table` / func.compact_table).

The maintenance op behind every append/streaming sink at scale: micro-
batches fragment partitions into many tiny files; compaction rewrites
ONLY the fragmented partitions (healthy ones keep their exact files —
asserted via inputFiles) with AQE sizing the output files.
"""

import pytest

from easy_sql_spark.runtime.processor import SqlProcessor


def _files_by_part(spark, table):
    out = {}
    for f in spark.table(table).inputFiles():
        spec = "/".join(s for s in f.split("/")[:-1] if "=" in s)
        out.setdefault(spec, []).append(f)
    return {k: sorted(v) for k, v in out.items()}


def test_compact_unpartitioned(spark):
    from easy_sql_spark.runtime.backend import SparkBackend

    spark.sql("drop database if exists cmp1 cascade")
    spark.sql("create database cmp1")
    spark.sql("create table cmp1.t (id int, v string) using parquet")
    for i in range(6):  # six appends -> at least six files
        spark.range(i * 10, i * 10 + 10).selectExpr(
            "cast(id as int) as id", "concat('v', id) as v"
        ).write.insertInto("cmp1.t")
    before = spark.table("cmp1.t").inputFiles()
    assert len(before) >= 6
    data_before = {(r.id, r.v) for r in spark.table("cmp1.t").collect()}

    report = SparkBackend(spark).compact_table("cmp1.t", target_mb=128)
    assert report["partitions_compacted"] == 1
    assert report["files_after"] < report["files_before"]
    after = spark.table("cmp1.t").inputFiles()
    assert len(after) < len(before)
    assert {(r.id, r.v) for r in spark.table("cmp1.t").collect()} == data_before


def test_compact_partitioned_touches_only_fragmented(spark):
    from easy_sql_spark.runtime.backend import SparkBackend

    spark.sql("drop database if exists cmp2 cascade")
    spark.sql("create database cmp2")
    spark.sql(
        "create table cmp2.t (id int, v string) using parquet "
        "partitioned by (dt string)"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # d1: five appends (fragmented); d2: one write (healthy)
    for i in range(5):
        spark.range(i * 10, i * 10 + 10).selectExpr(
            "cast(id as int) as id", "concat('v', id) as v", "'d1' as dt"
        ).write.insertInto("cmp2.t")
    spark.range(100, 140).selectExpr(
        "cast(id as int) as id", "concat('v', id) as v", "'d2' as dt"
    ).coalesce(1).write.insertInto("cmp2.t")

    before = _files_by_part(spark, "cmp2.t")
    assert len(before["dt=d1"]) >= 5 and len(before["dt=d2"]) == 1
    data_before = {(r.id, r.v, r.dt) for r in spark.table("cmp2.t").collect()}

    report = SparkBackend(spark).compact_table("cmp2.t", target_mb=64, min_files=4)
    assert report["partitions_compacted"] == 1  # only d1

    after = _files_by_part(spark, "cmp2.t")
    assert len(after["dt=d1"]) < len(before["dt=d1"])
    assert after["dt=d2"] == before["dt=d2"]  # healthy partition untouched
    assert {(r.id, r.v, r.dt) for r in spark.table("cmp2.t").collect()} == data_before

    # idempotent: a second pass finds nothing fragmented
    report2 = SparkBackend(spark).compact_table("cmp2.t", target_mb=64, min_files=4)
    assert report2["partitions_compacted"] == 0
    assert _files_by_part(spark, "cmp2.t") == after


def test_compact_via_step_function(spark):
    spark.sql("drop database if exists cmp3 cascade")
    spark.sql("create database cmp3")
    spark.sql("create table cmp3.t (id int) using parquet")
    for i in range(5):
        spark.range(i, i + 2).selectExpr("cast(id as int) as id").write.insertInto(
            "cmp3.t"
        )
    n_before = len(spark.table("cmp3.t").inputFiles())
    etl = """-- target=func.compact_table(cmp3.t)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert len(spark.table("cmp3.t").inputFiles()) < n_before
    assert spark.table("cmp3.t").count() == 10


def test_compact_preserves_partition_pruning(spark):
    """After a compaction rewrite, a dt filter still prunes at the scan."""
    from easy_sql_spark.runtime.backend import SparkBackend

    spark.sql("drop database if exists cmp4 cascade")
    spark.sql("create database cmp4")
    spark.sql(
        "create table cmp4.t (id int) using parquet partitioned by (dt string)"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for i in range(4):
        spark.range(4).selectExpr("cast(id as int) as id", "'a' as dt").write.insertInto("cmp4.t")
        spark.range(4).selectExpr("cast(id as int) as id", "'b' as dt").write.insertInto("cmp4.t")
    SparkBackend(spark).compact_table("cmp4.t", min_files=2)
    scanned = spark.table("cmp4.t").where("dt = 'a'")
    assert scanned.count() == 16
    files = scanned.select("id").inputFiles()
    assert files and all("dt=a" in f for f in files)


def test_compact_keeps_zorder_runs(spark):
    """Unpartitioned compaction bin-packs whole files in scan order: every
    z-ordered input file's rows reappear as one contiguous run, in the
    same (z) order, inside one output file — where a round-robin
    repartition deals each file's rows out over every output file."""
    import pyarrow.parquet as pq

    from easy_sql_spark.runtime.backend import SparkBackend, TableMeta

    spark.sql("drop database if exists cmp5 cascade")
    spark.sql("create database cmp5")
    backend = SparkBackend(spark)
    # ~2.4 MB of incompressible payload: compacting at 1 MB gives 3 files
    src = spark.range(150_000).selectExpr(
        "cast(id % 400 as double) as x",
        "cast(cast(id / 400 as int) as double) as y",
        "id",
        "rand(7) as filler",
    )
    backend.save_table(
        src, TableMeta.parse("cmp5.t"), "overwrite", True, zorder_cols=["x", "y"]
    )

    def runs():
        return [
            pq.read_table(f.removeprefix("file:"), columns=["id"])["id"]
            .to_pylist()
            for f in spark.table("cmp5.t").inputFiles()
        ]

    before = runs()
    report = backend.compact_table("cmp5.t", target_mb=1, min_files=4)
    after = runs()
    assert report["files_before"] == len(before) >= 4
    assert 1 < report["files_after"] == len(after) < len(before)
    where = {i: (f, pos) for f, ids in enumerate(after) for pos, i in enumerate(ids)}
    for ids in before:
        f, start = where[ids[0]]
        assert after[f][start : start + len(ids)] == ids
    assert sum(len(ids) for ids in after) == 150_000
