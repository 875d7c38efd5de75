"""Streaming change-feed source (streaming/cdf_source.py): manifest
versions as offsets, net-dir partitions, executor-side pyarrow reads,
checkpointed resume."""

import shutil

import pytest

from easy_sql_spark.runtime.snapshots import SnapshotTable
from easy_sql_spark.streaming.cdf_source import SnapshotChangeFeedDataSource


@pytest.fixture()
def root(tmp_path):
    yield str(tmp_path / "cdfsnap")
    shutil.rmtree(tmp_path, ignore_errors=True)


def _df(spark, rows, schema="id int, v string, p string"):
    return spark.createDataFrame(rows, schema)


def _drain(spark, root, out, ckpt, starting_version=None):
    reader = spark.readStream.format("snapshot_cdf").option("root", root)
    if starting_version is not None:
        reader = reader.option("starting_version", str(starting_version))
    q = (
        reader.load()
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "query still running"
    q.stop()


def test_cdf_stream_inserts_deletes_and_resume(spark, root, tmp_path):
    spark.dataSource.register(SnapshotChangeFeedDataSource)
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x"), (2, "b", "y")]), ["p"])
    t.append(_df(spark, [(3, "c", "x")]))

    out, ckpt = tmp_path / "o", tmp_path / "c"
    _drain(spark, root, out, ckpt, starting_version=0)
    rows = {(r.id, r._change_type, r._commit_version, r.p)
            for r in spark.read.parquet(str(out)).collect()}
    assert rows == {
        (1, "insert", 2, "x"), (2, "insert", 2, "y"), (3, "insert", 2, "x")}

    # dynamic partition overwrite: net delete of old x dirs + insert
    t.overwrite_partitions(_df(spark, [(10, "A", "x")]))
    _drain(spark, root, out, ckpt)  # checkpointed resume: only v3's delta
    rows = {(r.id, r._change_type, r._commit_version)
            for r in spark.read.parquet(str(out)).collect()}
    assert (10, "insert", 3) in rows
    assert (1, "delete", 3) in rows and (3, "delete", 3) in rows
    assert (2, "delete", 3) not in rows  # untouched partition: no event

    # nothing new: a further drain emits no rows
    before = spark.read.parquet(str(out)).count()
    _drain(spark, root, out, ckpt)
    assert spark.read.parquet(str(out)).count() == before


def test_cdf_stream_defaults_to_now_and_refuses_compact(spark, root, tmp_path):
    spark.dataSource.register(SnapshotChangeFeedDataSource)
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x")]), ["p"])

    out, ckpt = tmp_path / "o2", tmp_path / "c2"
    _drain(spark, root, out, ckpt)  # default start = latest: no backfill
    import os

    n = (spark.read.parquet(str(out)).count()
         if os.path.isdir(out) and any(f.endswith(".parquet")
                                       for f in os.listdir(out)) else 0)
    assert n == 0

    t.append(_df(spark, [(2, "b", "y")]))
    t.compact()
    with pytest.raises(Exception, match="compact"):
        _drain(spark, root, out, ckpt)


def test_cdf_stream_vacuumed_offset_is_loud(spark, root, tmp_path):
    """A checkpointed offset whose manifest was vacuumed must fail with
    the restart guidance, not a FileNotFoundError deep in a task."""
    spark.dataSource.register(SnapshotChangeFeedDataSource)
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x")]), ["p"])
    for i in range(2, 5):
        t.append(_df(spark, [(i, "b", "y")]))
    t.vacuum(retain_versions=1, min_age_seconds=0)
    with pytest.raises(Exception, match="vacuumed"):
        _drain(spark, root, tmp_path / "vo", tmp_path / "vc",
               starting_version=1)


def test_cdf_reader_rate_limits_backlog():
    """Pure reader-level check (no Spark needed): with
    max_versions_per_batch=1 and a 3-version backlog, latestOffset
    advances one version per commit cycle."""
    import json
    import os
    import tempfile

    from easy_sql_spark.streaming.cdf_source import SnapshotCDFStreamReader

    root = tempfile.mkdtemp(prefix="cdf_rl_")
    os.makedirs(os.path.join(root, "_manifests"))
    for v in range(1, 5):
        with open(os.path.join(root, "_manifests", "v%08d.json" % v), "w") as f:
            json.dump({"version": v, "operation": "append", "live": [],
                       "partition_cols": [], "schema": '{"type":"struct","fields":[]}'}, f)
    r = SnapshotCDFStreamReader(None, {
        "root": root, "starting_version": "1", "max_versions_per_batch": "1"})
    assert r.initialOffset() == {"version": 1}
    seen = []
    for _ in range(3):
        end = r.latestOffset()
        seen.append(end["version"])
        r.commit(end)
    assert seen == [2, 3, 4]
    assert r.latestOffset() == {"version": 4}  # caught up, stays put


def test_cdf_source_via_streaming_yaml_config(spark, root, tmp_path):
    """format: snapshot_cdf works as a step-language streaming SOURCE
    (the generic reader + session auto-registration compose)."""
    from easy_sql_spark.streaming.tables import StreamingTables

    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x")]), ["p"])
    t.append(_df(spark, [(2, "b", "y")]))
    config = {
        "sources": [{
            "name": "cdf_stream",
            "format": "snapshot_cdf",
            "options": {"root": root, "starting_version": 0},
        }],
        "sinks": [{
            "name": "out",
            "format": "parquet",
            "trigger": "availableNow",
            "checkpoint": str(tmp_path / "yck"),
            "options": {"path": str(tmp_path / "yout")},
        }],
    }
    st = StreamingTables(spark, config)
    st.register_sources()
    q = st.start_insert(spark.table("cdf_stream"), "out")
    assert q.awaitTermination(240), "query still running"
    q.stop()
    rows = {(r.id, r._change_type, r._commit_version)
            for r in spark.read.parquet(str(tmp_path / "yout")).collect()}
    assert rows == {(1, "insert", 2), (2, "insert", 2)}


def test_cdf_stream_tolerates_empty_part_files(spark, root, tmp_path):
    """A commit whose writer tasks left 0-row part files (skewed writes
    do this routinely) must stream cleanly: the zero-length batch used
    to carry NULL-typed constant columns (pa.array([]) infers null) and
    poison the arrow stream's schema mid-partition
    ("Tried to write record batch with different schema")."""
    spark.dataSource.register(SnapshotChangeFeedDataSource)
    t = SnapshotTable(spark, root)
    # 4 rows through 32 createDataFrame slices: slice 0 is empty, and
    # this write shape leaves an EMPTY part-00000 next to the data files
    t.create(
        spark.createDataFrame(
            [(i, "x", "p1") for i in range(4)], "id int, v string, p string"
        ),
        ["p"],
    )
    import glob
    import os

    import pyarrow.parquet as pq

    empties = [
        f
        for f in glob.glob(f"{root}/data/commit=*/**/*.parquet", recursive=True)
        if pq.read_metadata(f).num_rows == 0
    ]
    if not empties:
        # the writer didn't produce one this time — force the shape the
        # fix defends against by planting an empty file with the schema
        some = glob.glob(
            f"{root}/data/commit=*/**/*.parquet", recursive=True
        )[0]
        import pyarrow as pa

        pq.write_table(
            pq.read_table(some).slice(0, 0),
            os.path.join(os.path.dirname(some), "part-99999-empty.parquet"),
        )

    out, ckpt = tmp_path / "eo", tmp_path / "ec"
    _drain(spark, root, out, ckpt, starting_version=0)
    rows = {(r.id, r._change_type, r.p)
            for r in spark.read.parquet(str(out)).collect()}
    assert rows == {(i, "insert", "p1") for i in range(4)}


def test_cdf_stream_date_bool_decimal_partition_columns(spark, root, tmp_path):
    """date / boolean / decimal partition columns — including an
    all-NULL (__HIVE_DEFAULT_PARTITION__-style absent) value — must get
    their arrow type from the Spark field type, not a partial hand
    dict that let them infer pa.null() and poison the stream schema
    (r8-close ADVICE #3)."""
    spark.dataSource.register(SnapshotChangeFeedDataSource)
    t = SnapshotTable(spark, root)
    t.create(
        spark.createDataFrame(
            [
                (1, "a", "2024-03-01", True, "1.50"),
                (2, "b", "2024-03-02", False, "2.25"),
                (3, "c", None, True, "1.50"),
            ],
            "id int, v string, d string, flag boolean, amt string",
        ).selectExpr(
            "id", "v", "cast(d as date) d", "flag",
            "cast(amt as decimal(10,2)) amt",
        ),
        ["d", "flag", "amt"],
    )
    out, ckpt = tmp_path / "do", tmp_path / "dc"
    _drain(spark, root, out, ckpt, starting_version=0)
    got = spark.read.parquet(str(out))
    import datetime
    from decimal import Decimal

    rows = {(r.id, r.d, r.flag, r.amt) for r in got.collect()}
    assert rows == {
        (1, datetime.date(2024, 3, 1), True, Decimal("1.50")),
        (2, datetime.date(2024, 3, 2), False, Decimal("2.25")),
        (3, None, True, Decimal("1.50")),
    }
    assert dict(got.dtypes)["d"] == "date"
    assert dict(got.dtypes)["amt"] == "decimal(10,2)"


def test_cdf_bounded_backlog_survives_checkpointed_restart(spark, root, tmp_path):
    """r11 regression: with max_versions_per_batch set, a RESTARTED
    query whose backlog exceeds the cap must keep draining.  The source
    learns its restored position from the engine's re-plan of the
    restored batch (partitions(restored, restored)); before the fix the
    cap was computed from the stream-start version, latestOffset fell
    below the restored offset, and the stream read it as 'no new data'
    forever."""
    spark.dataSource.register(SnapshotChangeFeedDataSource)
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x")]), ["p"])
    for i in range(2, 8):
        t.append(_df(spark, [(i, f"v{i}", "x")]))

    out, ckpt = tmp_path / "bo", tmp_path / "bc"

    def drain():
        q = (
            spark.readStream.format("snapshot_cdf")
            .option("root", root)
            .option("starting_version", "0")
            .option("max_versions_per_batch", "2")
            .load()
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240)
        q.stop()
        return {
            (r.id, r._commit_version)
            for r in spark.read.parquet(str(out)).collect()
        }

    # 7 versions of backlog at 2/batch; each availableNow run of a
    # Python source executes ONE batch, so every restart must advance
    prev = set()
    for _ in range(4):
        got = drain()
        assert len(got) > len(prev), "restarted stream failed to advance"
        prev = got
    assert {i for i, _v in prev} == set(range(1, 8))


def test_cdf_stream_refuses_deletion_vector_ranges(spark, root, tmp_path):
    """The executor-side read cannot apply deletion vectors, so the stream
    refuses a range crossing a ``delete_dv`` commit (it would emit the
    deleted row as an insert) and a range removing a dir that a deletion
    vector live at the start version targets (it would emit the deleted
    row as a delete).  The batch ``changes()`` applies endpoint DVs, so it
    serves the second range exactly."""
    spark.dataSource.register(SnapshotChangeFeedDataSource)
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x"), (2, "b", "x"), (3, "c", "x")]), ["p"])
    t.delete_where_dv([("id", "=", 2)])
    assert sorted(r.id for r in t.read().collect()) == [1, 3]
    with pytest.raises(Exception, match="compact"):
        _drain(spark, root, tmp_path / "o1", tmp_path / "c1", starting_version=0)

    t.overwrite_partitions(_df(spark, [(4, "d", "x")]))
    assert {(r.id, r._change_type) for r in t.changes(2, 3).collect()} == {
        (1, "delete"), (3, "delete"), (4, "insert")}
    with pytest.raises(Exception, match="compact"):
        _drain(spark, root, tmp_path / "o2", tmp_path / "c2", starting_version=2)
