"""Table loading takes a single-file input's schema from its parquet footer,
read on the driver: no Spark job runs, the schema equals what Spark's own
inference gives, and it is read fresh on every call.  Directories keep
Spark's own listing and inference."""

import contextlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from easy_sql_spark import datasets

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DATA = os.path.join(REPO, "perfbench", "data")
# the smallest scale of the testdata tree the package defaults to
TESTDATA = os.path.join(os.path.dirname(datasets.DEFAULT_SF_DIR), "sf0.001")


def _tables(sf_dir):
    if not os.path.isdir(sf_dir):
        return []
    return [
        (sf_dir, name) for name in datasets.TABLES
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet"))
    ]


@contextlib.contextmanager
def job_group(spark, group):
    """Run the body under ``group``; yields a callable listing the jobs
    the group has launched so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_same_as_inference(spark, df, path):
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert _rows(df) == _rows(inferred)


def test_load_table_and_register_views_launch_no_job(spark):
    sf_dir = os.path.join(BENCH_DATA, "sf0.001")
    names = tuple(n for _d, n in _tables(sf_dir))
    assert names  # the benchmark's copies are in the checkout
    before = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    try:
        with job_group(spark, "test_datasets_zero_jobs") as jobs:
            datasets.load_table(spark, sf_dir, names[0])
            datasets.register_views(spark, sf_dir, names)
            assert jobs() == []
    finally:
        for name in set(names) - before:
            spark.catalog.dropTempView(name)


@pytest.mark.parametrize(
    "sf_dir,name",
    _tables(os.path.join(BENCH_DATA, "sf0.001"))
    + _tables(os.path.join(BENCH_DATA, "sf0.01")),
    ids=lambda v: os.path.relpath(v, REPO) if os.path.isabs(v) else v,
)
def test_footer_schema_equals_inference_bench_data(spark, sf_dir, name):
    df = datasets.load_table(spark, sf_dir, name)
    assert df.schema == spark.read.parquet(
        os.path.join(sf_dir, f"{name}.parquet")).schema


@pytest.mark.skipif(not _tables(TESTDATA), reason="testdata absent")
@pytest.mark.parametrize("name", datasets.TABLES)
def test_footer_schema_equals_inference_testdata(spark, name):
    path = os.path.join(TESTDATA, f"{name}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{name} absent")
    df = datasets.load_table(spark, TESTDATA, name)
    assert df.schema == spark.read.parquet(path).schema


def test_timestamp_nanos_read_as_bigint(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([3, 1, 2], pa.timestamp("ns")),
                  "k": [1, 2, 3]}),
        path, version="2.6",
    )
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    df = datasets.load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType == T.LongType()
    _assert_same_as_inference(spark, df, path)


def test_single_file_with_merge_schema_on(spark, tmp_path):
    # one file merges with nothing, so the footer schema still holds
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", None]}), path)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        df = datasets.load_table(spark, str(tmp_path), "t")
        _assert_same_as_inference(spark, df, path)
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_spark_written_directory(spark, tmp_path):
    # a directory of part files keeps Spark's own listing and inference
    path = str(tmp_path / "plain.parquet")
    spark.range(40).selectExpr(
        "id", "cast(id as string) s", "id / 4 d"
    ).repartition(3).write.parquet(path)
    listed = os.listdir(path)
    assert "_SUCCESS" in listed
    assert sum(f.startswith("part-") for f in listed) == 3
    df = datasets.load_table(spark, str(tmp_path), "plain")
    _assert_same_as_inference(spark, df, path)


def test_hive_partitioned_directory(spark, tmp_path):
    path = str(tmp_path / "part.parquet")
    spark.range(30).selectExpr(
        "id", "id % 3 k", "cast(id % 2 as string) j"
    ).write.partitionBy("k", "j").parquet(path)
    df = datasets.load_table(spark, str(tmp_path), "part")
    # partition columns come from the path, typed as Spark infers them
    assert df.schema.names == ["id", "k", "j"]
    assert df.schema["k"].dataType == T.IntegerType()
    _assert_same_as_inference(spark, df, path)


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    first = datasets.load_table(spark, str(tmp_path), "t")
    assert first.schema.names == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    second = datasets.load_table(spark, str(tmp_path), "t")
    assert second.schema.names == ["b", "c"]
    _assert_same_as_inference(spark, second, path)


def test_hidden_or_missing_file_raises_as_inference_does(spark, tmp_path):
    # Spark's listing hides a "_"-prefixed file even when it is named
    # directly; a schema from its footer would read as an empty table
    pq.write_table(pa.table({"x": [1]}), str(tmp_path / "_x.parquet"))
    for name, condition in (("_x", "UNABLE_TO_INFER_SCHEMA"),
                            ("missing", "PATH_NOT_FOUND")):
        with pytest.raises(AnalysisException) as ours:
            datasets.load_table(spark, str(tmp_path), name)
        with pytest.raises(AnalysisException) as spark_own:
            spark.read.parquet(str(tmp_path / f"{name}.parquet"))
        assert ours.value.getCondition() == condition
        assert spark_own.value.getCondition() == condition
