"""Snapshot table layer: commit protocol, time travel, dynamic-partition
overwrite, rollback, vacuum, exactly-once streaming commits.

The reference reaches these semantics through Hudi sinks
(test/sample_etl.flink.hudi-agg.sql:46); here they are a manifest layer
over plain parquet — see runtime/snapshots.py for the design."""

import shutil
from decimal import Decimal

import pytest

from easy_sql_spark.runtime.snapshots import SnapshotConflictError, SnapshotTable


@pytest.fixture()
def root(tmp_path):
    yield str(tmp_path / "snap")
    shutil.rmtree(tmp_path, ignore_errors=True)


def _df(spark, rows, schema="id int, v string"):
    return spark.createDataFrame(rows, schema)


def test_create_append_time_travel(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))

    assert t.latest_version() == 2
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    assert sorted(r.id for r in t.read(version=1).collect()) == [1, 2]

    hist = t.history()
    assert [h["version"] for h in hist] == [2, 1]
    assert hist[0]["operation"] == "append"

    # as-of time travel: at exactly v1's commit ts we see v1
    v1_ts = t.manifest(1)["ts"]
    assert sorted(r.id for r in t.read(as_of=v1_ts).collect()) == [1, 2]

    with pytest.raises(ValueError):
        t.create(_df(spark, [(9, "z")]))  # already exists


def test_overwrite_and_rollback(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(7, "x"), (8, "y")]))
    assert sorted(r.id for r in t.read().collect()) == [7, 8]
    assert sorted(r.id for r in t.read(version=1).collect()) == [1]

    m = t.rollback(1)
    assert m["version"] == 3 and m["operation"] == "rollback_to_v1"
    assert sorted(r.id for r in t.read().collect()) == [1]
    # the rolled-back-over version is still inspectable (roll-forward)
    assert sorted(r.id for r in t.read(version=2).collect()) == [7, 8]


def test_partitioned_dynamic_overwrite_prunes(spark, root):
    t = SnapshotTable(spark, root)
    t.create(
        _df(spark, [(1, "a", "x"), (2, "b", "y")], "id int, v string, p string"),
        partition_by=["p"],
    )
    files_before = {
        f for f in t.read().inputFiles() if "/p=y/" in f
    }
    t.overwrite_partitions(
        _df(spark, [(10, "A", "x")], "id int, v string, p string")
    )
    cur = t.read()
    rows = {(r.id, r.p) for r in cur.collect()}
    assert rows == {(10, "x"), (2, "y")}
    # untouched partition still served by its ORIGINAL files
    assert {f for f in cur.inputFiles() if "/p=y/" in f} == files_before
    # partition column type recovered from the stored schema
    assert dict(cur.dtypes)["p"] == "string"
    # manifest-level pruning: v2 has exactly two live dirs (new x + old y)
    assert len(t.manifest(2)["live"]) == 2
    # time travel back across the partition overwrite
    assert {(r.id, r.p) for r in t.read(version=1).collect()} == {
        (1, "x"),
        (2, "y"),
    }


def test_partition_spec_mismatch_raises(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x")], "id int, v string, p string"), ["p"])
    with pytest.raises(ValueError, match="partitioned by"):
        t.overwrite(_df(spark, [(2, "b", "y")], "id int, v string, p string"), ["v"])
    with pytest.raises(ValueError, match="partitioned"):
        SnapshotTable(spark, str(root) + "2").create(_df(spark, [(1, "a")]))
        SnapshotTable(spark, str(root) + "2").overwrite_partitions(
            _df(spark, [(2, "b")])
        )


def test_commit_race_rebases_append(spark, root, monkeypatch):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))

    # interloper commits v2 between our latest_version() read and the
    # manifest claim: first claim attempt loses, append must rebase on v2
    interloper = SnapshotTable(spark, root)
    real_create = t.fs.create_atomic
    state = {"raced": False}

    def racing_create(path, data):
        if not state["raced"] and "/v00000002.json" in path:
            state["raced"] = True
            interloper.append(_df(spark, [(50, "i")]))
            return False  # our claim on v2 lost
        return real_create(path, data)

    monkeypatch.setattr(t.fs, "create_atomic", racing_create)
    m = t.append(_df(spark, [(2, "b")]))
    assert m["version"] == 3  # rebased past the interloper
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 50]


def test_conflict_exhaustion_raises(spark, root, monkeypatch):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    real_create = t.fs.create_atomic
    monkeypatch.setattr(
        t.fs,
        "create_atomic",
        lambda p, d: False if "/v0" in p else real_create(p, d),
    )
    with pytest.raises(SnapshotConflictError):
        t.append(_df(spark, [(2, "b")]))


def test_vacuum_drops_dead_versions_keeps_live(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x"), (2, "b", "y")], "id int, v string, p string"), ["p"])
    t.overwrite_partitions(_df(spark, [(10, "A", "x")], "id int, v string, p string"))
    t.append(_df(spark, [(3, "c", "z")], "id int, v string, p string"))

    res = t.vacuum(retain_versions=1)
    # v1's x-partition dir is dead (replaced in v2); y/z stay live
    assert res["deleted_dirs"] >= 1
    assert res["deleted_manifests"] == 2
    cur = {(r.id, r.p) for r in t.read().collect()}
    assert cur == {(10, "x"), (2, "y"), (3, "z")}
    with pytest.raises(Exception):
        t.read(version=1)  # manifest gone


def test_vacuum_age_guard_spares_inflight_staging(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    # simulate an in-flight commit: staged dir, no manifest yet
    _df(spark, [(9, "z")]).write.parquet(f"{root}/data/commit=9-inflight")
    res = t.vacuum(retain_versions=1, min_age_seconds=3600)
    assert res["deleted_dirs"] == 0
    assert t.fs.exists(f"{root}/data/commit=9-inflight")
    # without the guard it is collected as an orphan
    res = t.vacuum(retain_versions=1, min_age_seconds=0)
    assert res["deleted_dirs"] == 1
    assert not t.fs.exists(f"{root}/data/commit=9-inflight")


def test_empty_table_read_has_schema(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [], "id int, v string"))
    out = t.read()
    assert out.count() == 0
    assert out.columns == ["id", "v"]


def test_streaming_commit_batch_idempotent(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    assert t.commit_batch(0, _df(spark, [(2, "b")])) is not None
    # checkpoint-restart replay of the same batch id: skipped
    assert t.commit_batch(0, _df(spark, [(2, "b")])) is None
    assert t.commit_batch(1, _df(spark, [(3, "c")])) is not None
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    # independent stream keys do not collide on batch ids
    assert t.commit_batch(1, _df(spark, [(4, "d")]), stream_key="s2") is not None
    assert t.latest_version() == 4


def test_streaming_foreach_batch_exactly_once_restart(spark, root, tmp_path):
    """readStream → foreachBatch → commit_batch end-to-end: a checkpoint
    restart picks up only new input, and a LOST checkpoint (the worst
    replay case — every batch re-delivered from id 0) commits nothing
    twice: the manifest-recorded batch ids make the snapshot table an
    exactly-once sink over an at-least-once stream."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck")
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [], "id int, v string"))

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run_stream(checkpoint):
        q = (
            spark.readStream.schema("id int, v string")
            .json(str(src))
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .foreachBatch(lambda df, bid: t.commit_batch(bid, df))
            .start()
        )
        assert q.awaitTermination(240), "query still running"
        q.stop()

    write_file("b1.json", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    run_stream(ck)
    assert sorted(r.id for r in t.read().collect()) == [1, 2]

    import time

    time.sleep(1.1)
    write_file("b2.json", [{"id": 3, "v": "c"}])
    run_stream(ck)  # restart, same checkpoint: only the new file lands
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]

    v_before = t.latest_version()
    run_stream(str(tmp_path / "ck_lost"))  # checkpoint lost: full replay
    assert t.latest_version() == v_before  # every replayed batch skipped
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_snapshot_step_functions_end_to_end(spark, root):
    """The step-language surface: commit two versions, time-travel read,
    rollback, vacuum — all via func. steps."""
    from easy_sql_spark.runtime.processor import SqlProcessor

    etl = f"""-- target=temp.batch1
select 1 as id, 'x' as p
union all select 2, 'y'

-- target=func.snapshot_commit({root}, batch1, append, p)

-- target=temp.batch2
select 10 as id, 'x' as p

-- target=func.snapshot_commit({root}, batch2, overwrite_partitions)

-- target=func.snapshot_view({root}, snap_latest)
-- target=func.snapshot_view({root}, snap_v1, 1)

-- target=func.snapshot_rollback({root}, 1)
-- target=func.snapshot_view({root}, snap_after_rb)
-- target=func.snapshot_history({root}, snap_hist)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert {(r.id, r.p) for r in spark.table("snap_latest").collect()} == {
        (10, "x"),
        (2, "y"),
    }
    v1 = {(r.id, r.p) for r in spark.table("snap_v1").collect()}
    assert v1 == {(1, "x"), (2, "y")}
    assert {(r.id, r.p) for r in spark.table("snap_after_rb").collect()} == v1
    hist = spark.table("snap_hist").collect()
    assert [h.version for h in hist] == [3, 2, 1]
    assert hist[0].operation == "rollback_to_v1"


def test_dedup_index_idempotent_replay_and_bandless(spark, root):
    """MinHashDedupIndex: a replayed batch_id leaves the index unchanged
    (streaming replay safety), short docs are admitted but not indexed,
    an exact duplicate arriving in a later batch is rejected."""
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    idx = MinHashDedupIndex(spark, root)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different document about spark shuffles"),
         (3, "hi")],  # < 3 words: bandless
        "doc_id long, text string",
    )
    adm1 = {r.doc_id for r in idx.ingest(b1, batch_id=0).collect()}
    assert adm1 == {1, 2, 3}
    assert {r.doc_id for r in idx.indexed_docs().collect()} == {1, 2}

    v = idx.table.latest_version()
    idx.ingest(b1, batch_id=0)  # replay: skipped commit
    assert idx.table.latest_version() == v

    b2 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
         (11, "completely novel content never seen before today")],
        "doc_id long, text string",
    )
    adm2 = {r.doc_id for r in idx.ingest(b2, batch_id=1).collect()}
    assert adm2 == {11}
    assert {r.doc_id for r in idx.indexed_docs().collect()} == {1, 2, 11}


def test_dedup_index_replay_reconstructs_admitted_set(spark, root):
    """A replayed batch (checkpoint restart AFTER its index commit landed
    but before a downstream admitted-corpus append) must return the SAME
    admitted set as the original run — NOT probe, which would collide
    with the batch's own just-committed bands and admit nothing,
    permanently losing the docs downstream (r8-close ADVICE #1)."""
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    idx = MinHashDedupIndex(spark, root)
    idx.ingest(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        ),
        batch_id=0,
    )
    b1 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
         (11, "completely novel content never seen before today"),
         (12, "completely novel content never seen before today"),  # intra dup
         (13, "hi")],  # bandless
        "doc_id long, text string",
    )
    adm = {r.doc_id for r in idx.ingest(b1, batch_id=1).collect()}
    assert adm == {11, 13}
    v = idx.table.latest_version()
    # replay: identical admitted set, no new commit, no probe-vs-self
    replay = {r.doc_id for r in idx.ingest(b1, batch_id=1).collect()}
    assert replay == adm
    assert idx.table.latest_version() == v


def test_dedup_index_replay_scoped_to_batch_commit(spark, root):
    """Replay reconstruction joins only the batch's OWN committed dirs
    (manifest ``added`` + recorded batch ids): a doc_id admitted in an
    EARLIER batch and re-offered in a later one (re-crawl) was rejected
    by the later batch's original run — its replay must reject it too.
    A whole-index join would wrongly re-admit it (ADVICE r9)."""
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    idx = MinHashDedupIndex(spark, root)
    crawl = (1, "the quick brown fox jumps over the lazy dog")
    idx.ingest(
        spark.createDataFrame([crawl], "doc_id long, text string"),
        batch_id=0,
    )
    b1 = spark.createDataFrame(
        [crawl,  # re-crawl: same doc_id, rejected vs batch 0's bands
         (5, "completely novel content never seen before today")],
        "doc_id long, text string",
    )
    adm = {r.doc_id for r in idx.ingest(b1, batch_id=1).collect()}
    assert adm == {5}
    v = idx.table.latest_version()
    replay = {r.doc_id for r in idx.ingest(b1, batch_id=1).collect()}
    assert replay == {5}  # NOT {1, 5}: doc 1 is indexed, but not by batch 1
    assert idx.table.latest_version() == v


def test_dedup_index_vacuumed_replay_strict_raises(spark, root):
    """ADVICE r10 (low): when the commit that recorded a replayed batch
    id has been vacuumed, the whole-index reconstruction is exact only
    under the unique-doc_id-per-index-lifetime precondition.
    ``vacuumed_replay='raise'`` must refuse the approximation; the
    default ``'fallback'`` performs it (and this test pins exactly the
    wrong-readmission the strict mode exists to prevent)."""
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    idx = MinHashDedupIndex(spark, root)
    crawl = (1, "the quick brown fox jumps over the lazy dog")
    idx.ingest(
        spark.createDataFrame([crawl], "doc_id long, text string"),
        batch_id=0,
    )
    b1 = spark.createDataFrame(
        [crawl,  # re-crawl: rejected by batch 1's original run
         (5, "completely novel content never seen before today")],
        "doc_id long, text string",
    )
    assert {r.doc_id for r in idx.ingest(b1, batch_id=1).collect()} == {5}
    idx.ingest(
        spark.createDataFrame(
            [(9, "another fresh document with unique words entirely")],
            "doc_id long, text string",
        ),
        batch_id=2,
    )
    # vacuum keeps only the newest manifest: batch 1's commit history
    # (its manifest, hence its ``added`` scoping) is gone
    assert (
        idx.table.vacuum(retain_versions=1, min_age_seconds=0)[
            "deleted_manifests"
        ]
        >= 2
    )

    strict = MinHashDedupIndex(spark, root, vacuumed_replay="raise")
    with pytest.raises(RuntimeError, match="no longer reconstructable"):
        strict.ingest(b1, batch_id=1)
    # strict refusal commits nothing and leaves the table readable
    assert idx.table.last_committed_batch() == 2

    # the default widens to the whole index: doc 1 IS indexed (by batch
    # 0), so the approximate replay re-admits it — only sound when a
    # doc_id is offered at most once per index lifetime
    relaxed = {r.doc_id for r in idx.ingest(b1, batch_id=1).collect()}
    assert relaxed == {1, 5}


def test_dedup_index_deferred_commits_one_version_same_admissions(
    spark, tmp_path
):
    """deferred_commits(): N priority-ordered ingests → ONE snapshot
    commit whose manifest records the coalesced batch-id range, with
    admission decisions BIT-IDENTICAL to per-batch commits (each
    deferred ingest probes committed ∪ pending bands)."""
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    batches = [
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "pyspark analytics engines shuffle partitioned data")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
             (11, "completely novel content never seen before today")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(20, "completely novel content never seen before today"),  # dup of 11
             (21, "another fresh document with unique words entirely")],
            "doc_id long, text string",
        ),
    ]

    per = MinHashDedupIndex(spark, str(tmp_path / "per_batch"))
    want = [
        {r.doc_id for r in per.ingest(b, batch_id=i).collect()}
        for i, b in enumerate(batches)
    ]
    assert per.table.latest_version() == 3

    idx = MinHashDedupIndex(spark, str(tmp_path / "deferred"))
    with idx.deferred_commits():
        got = [
            {r.doc_id for r in idx.ingest(b, batch_id=i).collect()}
            for i, b in enumerate(batches)
        ]
    assert got == want
    assert idx.table.latest_version() == 1  # ONE coalesced commit
    m = idx.table.manifest(1)
    assert m["batch_ids"] == [0, 1, 2] and m["batch_id"] == 2
    # replay guard advanced past every coalesced batch
    assert idx.table.last_committed_batch() == 2
    # both indexes hold the same admitted bands
    assert {r.doc_id for r in idx.indexed_docs().collect()} == {
        r.doc_id for r in per.indexed_docs().collect()
    }
    # a replayed coalesced batch reconstructs, commits nothing
    assert {
        r.doc_id for r in idx.ingest(batches[1], batch_id=1).collect()
    } == want[1]
    assert idx.table.latest_version() == 1


def test_index_bytes_is_pure_manifest_metadata(spark, root):
    """On a warm table (manifests written with per-dir byte totals) the
    index-size regime check must be a pure metadata read — zero
    filesystem walks (r9 ask #4: on HDFS getContentSummary is a
    recursive NameNode walk per live dir, re-paid every version)."""
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    idx = MinHashDedupIndex(spark, root)
    idx.ingest(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
    )
    m = idx.table.manifest(idx.table.latest_version())
    assert set(m["bytes"]) == set(m["live"])
    assert all(b > 0 for b in m["bytes"].values())

    # fresh instance (cold memo) over unreadable data: the size is
    # answered from the manifest alone
    idx2 = MinHashDedupIndex(spark, root)
    data = f"{root}/data"
    shutil.move(data, data + ".hidden")
    try:
        total = idx2._index_bytes()
    finally:
        shutil.move(data + ".hidden", data)
    assert total == sum(m["bytes"].values()) > 0


def test_dedup_index_over_shallow_clone(spark, root):
    """A shallow clone carries the per-dir byte totals, so a dedup index
    over it sizes itself from the manifest (the clone's live dirs sit
    under the SOURCE's data root) and probes the source's bands."""
    from easy_sql_spark.operators.dedup_index import MinHashDedupIndex

    src = MinHashDedupIndex(spark, root)
    src.ingest(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
    )
    clone = src.table.clone_to(root + "_clone")
    idx = MinHashDedupIndex(spark, clone.root)
    admitted = idx.ingest(
        spark.createDataFrame(
            [(2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely novel content never seen before today")],
            "doc_id long, text string",
        )
    )
    assert {r.doc_id for r in admitted.collect()} == {3}
    assert clone.manifest(1)["bytes"] == src.table.manifest(1)["bytes"]
    assert src.table.latest_version() == 1  # the source is untouched


def test_compact_collapses_commit_dirs(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(0, "a", "x")], "id int, v string, p string"), ["p"])
    for i in range(1, 5):
        t.append(_df(spark, [(i, "a", "x"), (i + 100, "b", "y")],
                     "id int, v string, p string"))
    before = {(r.id, r.p) for r in t.read().collect()}
    assert len(t.manifest(5)["live"]) == 9  # 1 + 4x2 partition-commit dirs

    m = t.compact()
    assert m["operation"] == "compact" and m["compacted_from"] == 5
    assert len(m["live"]) == 2  # one commit dir per partition value
    assert {(r.id, r.p) for r in t.read().collect()} == before
    # pre-compaction versions stay time-travelable until vacuum
    assert len({r.id for r in t.read(version=2).collect()}) == 3
    res = t.vacuum(retain_versions=1)
    assert res["deleted_dirs"] >= 5
    assert {(r.id, r.p) for r in t.read().collect()} == before


def test_append_schema_evolution_additive_only(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    # additive: new column appears, old files read NULL for it
    t.append(spark.createDataFrame([(2, "b", 9.5)], "id int, v string, score double"))
    rows = {(r.id, r.v, r.score) for r in t.read().collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}
    # destructive: dropping a column is refused on append
    with pytest.raises(ValueError, match="additive-only"):
        t.append(spark.createDataFrame([(3,)], "id int"))


def test_change_data_feed(spark, root):
    """changes(): net insert/delete rows between versions, read from only
    the net-changed dirs; add-then-remove inside the range cancels."""
    t = SnapshotTable(spark, root)
    t.create(
        _df(spark, [(1, "a", "x"), (2, "b", "y")], "id int, v string, p string"),
        ["p"],
    )
    t.append(_df(spark, [(3, "c", "x")], "id int, v string, p string"))
    ch = t.changes(1).collect()
    assert {(r.id, r._change_type) for r in ch} == {(3, "insert")}

    t.overwrite_partitions(_df(spark, [(10, "A", "x")], "id int, v string, p string"))
    ch = t.changes(2, 3)
    got = {(r.id, r._change_type) for r in ch.collect()}
    # partition x rewrote: old rows 1,3 deleted, 10 inserted; y untouched
    assert got == {(1, "delete"), (3, "delete"), (10, "insert")}

    # v2's append (id=3) was added at v2 and removed at v3: across the
    # whole range it cancels — its commit dir is never even scanned
    whole = t.changes(1, 3)
    assert {(r.id, r._change_type) for r in whole.collect()} == {
        (1, "delete"),
        (10, "insert"),
    }
    assert not any("commit=2-" in f for f in whole.inputFiles())


def test_change_feed_refuses_compact_range(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.compact()
    with pytest.raises(ValueError, match="compact commit"):
        t.changes(1)
    rows = t.changes(1, allow_rewrites=True).collect()
    # the rewrite is visible only when explicitly requested; id=2 joined
    # at v2 (not in from_version's live set) so it nets to insert-only
    assert {(r.id, r._change_type) for r in rows} == {
        (1, "delete"), (1, "insert"), (2, "insert"),
    }
    # a range not crossing the compact stays clean
    assert {(r.id, r._change_type) for r in t.changes(1, 2).collect()} == {
        (2, "insert")
    }


def test_manifest_stats_pruned_read(spark, root):
    """stats_cols: per-dir min/max ride the manifest; read(where=...)
    prunes dirs BEFORE any file listing — disjoint-range appends mean a
    point lookup scans exactly one commit dir."""
    t = SnapshotTable(spark, root)
    t.create(
        spark.range(0, 100).selectExpr("id", "id * 2 as val"),
        stats_cols=["id"],
    )
    t.append(spark.range(100, 200).selectExpr("id", "id * 2 as val"))
    t.append(spark.range(200, 300).selectExpr("id", "id * 2 as val"))

    pruned = t.read(where=[("id", "=", 150)])
    assert {f.rsplit("/", 2)[-2].split("-")[0] for f in pruned.inputFiles()} | set() \
        and len({f.rsplit("/", 2)[-2] for f in pruned.inputFiles()}) == 1
    # superset guarantee: predicate still applies on the frame
    assert pruned.where("id = 150").count() == 1
    assert pruned.count() == 100  # the one surviving dir, unfiltered

    # range predicate keeps two of three dirs
    r = t.read(where=[("id", ">=", 150)])
    assert len({f.rsplit("/", 2)[-2] for f in r.inputFiles()}) == 2
    assert r.where("id >= 150").count() == 150

    with pytest.raises(ValueError, match="no manifest stats"):
        t.read(where=[("val", "=", 10)])


def test_manifest_stats_survive_partition_overwrite_and_compact(spark, root):
    t = SnapshotTable(spark, root)
    df = spark.range(0, 100).selectExpr(
        "id", "cast(id % 2 as string) as p"
    )
    t.create(df, partition_by=["p"], stats_cols=["id"])
    t.overwrite_partitions(
        spark.range(1000, 1050).selectExpr("id", "'0' as p")
    )
    # p=0 replaced with ids 1000+; a low-id lookup now only scans p=1 dirs
    low = t.read(where=[("id", "=", 51)])
    assert all("/p=1" in f for f in low.inputFiles())
    hi = t.read(where=[("id", ">=", 1000)])
    assert all("/p=0" in f for f in hi.inputFiles())

    t.compact()
    again = t.read(where=[("id", ">=", 1000)])
    assert again.where("id >= 1000").count() == 50
    # stats were recomputed for the compacted dirs
    assert all("/p=0" in f for f in again.inputFiles())


def test_vacuum_preserves_streaming_replay_protection(spark, root):
    """ADVICE r4 (high): after a vacuum deletes old manifests, the
    exactly-once streaming sink must keep working — no FileNotFound on
    the next micro-batch, and the committed batch ids survive so a
    lost-checkpoint replay still skips."""
    t = SnapshotTable(spark, root)
    t.overwrite(_df(spark, [(1, "a")]), extra={"batch_id": 0, "stream_key": "s"})
    for b in range(1, 4):
        t.commit_batch(b, _df(spark, [(b + 10, "x")]), stream_key="s")
    assert t.vacuum(retain_versions=1, min_age_seconds=0)["deleted_manifests"] == 3

    # log-walking APIs survive the missing early manifests
    assert [h["version"] for h in t.history()] == [4]
    assert sorted(r.id for r in t.read(as_of=t.manifest(4)["ts"]).collect()) == [
        1, 11, 12, 13]
    assert t.last_committed_batch("s") == 3
    # replayed old batch still skipped; fresh batch lands
    assert t.commit_batch(3, _df(spark, [(99, "dup")]), stream_key="s") is None
    assert t.commit_batch(4, _df(spark, [(14, "y")]), stream_key="s") is not None
    assert sorted(r.id for r in t.read().collect()) == [1, 11, 12, 13, 14]


def test_vacuum_spares_young_unreferenced_commit_dirs(spark, root):
    """ADVICE r4 (medium): a staged-but-uncommitted commit dir (a
    CONCURRENT writer mid-commit) must survive a default vacuum — only
    an explicit min_age_seconds=0 reaps young orphans."""
    import os

    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    orphan = os.path.join(root, "data", "commit=2-cafecafecafe")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").write(b"x")

    assert t.vacuum(retain_versions=1)["deleted_dirs"] == 0  # default: spared
    assert os.path.isdir(orphan)
    assert t.vacuum(retain_versions=1, min_age_seconds=0)["deleted_dirs"] == 1
    assert not os.path.isdir(orphan)
    assert sorted(r.id for r in t.read().collect()) == [1]


def test_changes_refuses_vacuumed_range(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    t.vacuum(retain_versions=1, min_age_seconds=0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.changes(1, 3)


def test_decimal_stats_prune_numerically(spark, root):
    """ADVICE r4 (medium): decimal min/max must land as floats — the old
    stringified form ('9.5' > '10.5' lexicographically) could wrongly
    prune a live dir and silently drop rows from read(where=...)."""
    t = SnapshotTable(spark, root)
    lo = spark.sql("select 1 as id, cast(2.5 as decimal(10,2)) as d")
    hi = spark.sql("select 2 as id, cast(10.5 as decimal(10,2)) as d "
                   "union all select 3, cast(9.5 as decimal(10,2))")
    t.create(lo, stats_cols=["d"])
    t.append(hi)
    m = t.manifest(t.latest_version())
    for rng in (s["d"] for s in m["stats"].values()):
        # [min, max, null_count]: the bounds must be numeric floats
        # (decimal STRINGS are not lexicographically ordered)
        assert all(isinstance(x, float) for x in rng[:2]), rng
    # d > 10 must keep the hi dir (min 9.5 <= 10 <= max 10.5 range
    # under the buggy string compare min '9.5' > '10' pruned it)
    got = sorted(r.id for r in t.read(where=[("d", ">", 10)])
                 .where("d > 10").collect())
    assert got == [2]
    # mixed-type predicate never prunes (and never TypeErrors)
    assert sorted(
        r.id for r in t.read(where=[("d", ">", "oops")]).collect()
    ) == [1, 2, 3]


def test_rollback_keeps_replay_protection(spark, root):
    t = SnapshotTable(spark, root)
    t.overwrite(_df(spark, [(1, "a")]), extra={"batch_id": 0, "stream_key": "s"})
    t.commit_batch(1, _df(spark, [(2, "b")]), stream_key="s")
    t.rollback(1)
    # data rewound; replay protection did NOT rewind
    assert sorted(r.id for r in t.read().collect()) == [1]
    assert t.last_committed_batch("s") == 1
    assert t.commit_batch(1, _df(spark, [(9, "dup")]), stream_key="s") is None


def _race(t_loser, t_winner, winner_df):
    """Arrange for t_winner's dynamic overwrite to land between t_loser's
    stage and its first manifest attempt — a real two-writer race."""
    orig = t_loser._try_commit
    state = {"done": False}

    def hooked(manifest):
        if not state["done"]:
            state["done"] = True
            t_winner.overwrite_partitions(winner_df)
        return orig(manifest)

    t_loser._try_commit = hooked


def test_concurrent_disjoint_partition_overwrites_both_land(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x"), (2, "b", "y")],
                 "id int, v string, p string"), ["p"])
    a = SnapshotTable(spark, root)
    b = SnapshotTable(spark, root)
    _race(a, b, _df(spark, [(20, "B", "y")], "id int, v string, p string"))
    a.overwrite_partitions(
        _df(spark, [(10, "A", "x")], "id int, v string, p string"))
    rows = {(r.id, r.p) for r in t.read().collect()}
    assert rows == {(10, "x"), (20, "y")}  # both writers' partitions live
    assert t.latest_version() == 3


def test_concurrent_overlapping_partition_overwrites_conflict(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x")], "id int, v string, p string"), ["p"])
    a = SnapshotTable(spark, root)
    b = SnapshotTable(spark, root)
    _race(a, b, _df(spark, [(20, "B", "x")], "id int, v string, p string"))
    with pytest.raises(SnapshotConflictError, match="p=x"):
        a.overwrite_partitions(
            _df(spark, [(10, "A", "x")], "id int, v string, p string"))
    # the winner's write is intact
    assert {(r.id, r.p) for r in t.read().collect()} == {(20, "x")}


def test_merge_upsert_semantics_and_dir_pruning(spark, root):
    """MERGE: matched rows replaced, unmatched source rows insert, and —
    the scale contract — dirs holding no matched key are NOT rewritten
    (their files stay byte-identical in the new version)."""
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", "x"), (2, "b", "y")],
                 "id int, v string, p string"), ["p"])
    t.append(_df(spark, [(3, "c", "z")], "id int, v string, p string"))
    z_files = {f for f in t.read().inputFiles() if "/p=z/" in f}

    m = t.merge(
        _df(spark, [(2, "B2", "y"), (9, "new", "x")],
            "id int, v string, p string"),
        keys=["id"],
    )
    assert m["operation"] == "merge"
    rows = {(r.id, r.v, r.p) for r in t.read().collect()}
    assert rows == {(1, "a", "x"), (2, "B2", "y"), (3, "c", "z"), (9, "new", "x")}
    # the z dir held no matched key: same physical files serve it
    assert {f for f in t.read().inputFiles() if "/p=z/" in f} == z_files
    # pre-merge state stays time-travelable
    assert {(r.id, r.v) for r in t.read(version=2).collect()} == {
        (1, "a"), (2, "b"), (3, "c")}


def test_merge_precombine_and_duplicate_detection(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a", 0)], "id int, v string, ts int"))
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(_df(spark, [(1, "x", 5), (1, "y", 9)],
                    "id int, v string, ts int"), keys=["id"])
    t.merge(_df(spark, [(1, "x", 5), (1, "y", 9)],
                "id int, v string, ts int"), keys=["id"], precombine="ts")
    assert {(r.id, r.v, r.ts) for r in t.read().collect()} == {(1, "y", 9)}


def test_merge_conflicts_on_concurrent_commit(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    b = SnapshotTable(spark, root)
    orig = t._try_commit
    state = {"done": False}

    def hooked(manifest):
        if not state["done"]:
            state["done"] = True
            b.append(_df(spark, [(50, "i")]))
        return orig(manifest)

    t._try_commit = hooked
    with pytest.raises(SnapshotConflictError, match="concurrently"):
        t.merge(_df(spark, [(1, "A")]), keys=["id"])
    # retry on the new state succeeds
    t._try_commit = orig
    t.merge(_df(spark, [(1, "A")]), keys=["id"])
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "A"), (50, "i")}


def test_delete_where_stats_pruning_and_null_rows(spark, root):
    t = SnapshotTable(spark, root)
    t.create(
        spark.sql("select 1 id, 5 ts, 'a' v union all select 2, 15, 'b'"),
        stats_cols=["ts"],
    )
    t.append(spark.sql(
        "select 3 id, 25 ts, 'c' v union all select 4, cast(null as int), 'd'"))
    files_v1_dir = {f for f in t.read().inputFiles()
                    if "/commit=1-" in f}

    m = t.delete_where([("ts", ">=", 20)])
    assert m["operation"] == "delete"
    rows = {(r.id, r.ts) for r in t.read().collect()}
    # ts=25 deleted; NULL ts KEPT (SQL delete semantics)
    assert rows == {(1, 5), (2, 15), (4, None)}
    # the v1 dir (ts range [5,15]) was provably unaffected: stats-pruned,
    # same files serve it — only the v2 dir was rewritten
    assert {f for f in t.read().inputFiles()
            if "/commit=1-" in f} == files_v1_dir
    assert set(m["removed"]) == {
        d for d in t.manifest(2)["live"] if d.startswith("commit=2-")}


def test_merge_additive_schema_evolution(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a"), (2, "b")]))
    t.merge(
        spark.createDataFrame([(2, "B", 0.5)], "id int, v string, score double"),
        keys=["id"],
    )
    assert {(r.id, r.v, r.score) for r in t.read().collect()} == {
        (1, "a", None), (2, "B", 0.5)}


def test_snapshot_merge_delete_step_functions(spark, root):
    """func.snapshot_merge / func.snapshot_delete from the step language."""
    from easy_sql_spark.runtime.processor import SqlProcessor

    etl = f"""-- target=temp.seed
select 1 as id, 'a' as v, 5 as ts
union all select 2, 'b', 15
union all select 3, 'c', 25

-- target=func.snapshot_commit({root}, seed, append)

-- target=temp.updates
select 2 as id, 'B2' as v, 16 as ts
union all select 9, 'new', 1

-- target=func.snapshot_merge({root}, updates, id)

-- target=func.snapshot_delete({root}, ts>=25)

-- target=func.snapshot_view({root}, snap_final)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    rows = {(r.id, r.v) for r in spark.table("snap_final").collect()}
    assert rows == {(1, "a"), (2, "B2"), (9, "new")}


def test_index_step_functions_end_to_end(spark, root, tmp_path):
    """func.dedup_index_ingest / func.ann_index_* from the step language."""
    from easy_sql_spark.runtime.processor import SqlProcessor

    didx = str(tmp_path / "didx")
    aidx = str(tmp_path / "aidx")
    etl = f"""-- target=temp.docs
select 1L as doc_id, 'the quick brown fox jumps over the lazy dog' as text
union all select 2L, 'an entirely different document about spark shuffles'

-- target=func.dedup_index_ingest({didx}, docs, admitted, 0)

-- target=temp.docs2
select 10L as doc_id, 'the quick brown fox jumps over the lazy dog' as text
union all select 11L, 'completely novel content never seen before today'

-- target=func.dedup_index_ingest({didx}, docs2, admitted2, 1)

-- target=temp.vecs
select cast(id as long) as vec_id,
       transform(sequence(0, 7), d -> cast(hash(id, d) % 100 as double)) as v
from range(0, 60)

-- target=func.ann_index_create({aidx}, vecs, 4, 1)

-- target=temp.more_vecs
select cast(id as long) as vec_id,
       transform(sequence(0, 7), d -> cast(hash(id, d) % 100 as double)) as v
from range(60, 80)

-- target=func.ann_index_ingest({aidx}, more_vecs, 0)

-- target=temp.qs
select cast(1 as long) as query_id,
       transform(sequence(0, 7), d -> cast(hash(1, d) % 100 as double)) as qv

-- target=func.ann_index_search({aidx}, qs, nn, 5, 2)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert {r.doc_id for r in spark.table("admitted").collect()} == {1, 2}
    assert {r.doc_id for r in spark.table("admitted2").collect()} == {11}
    nn = spark.table("nn").collect()
    assert len(nn) == 5 and all(r.query_id == 1 for r in nn)
    assert [r.rank for r in sorted(nn, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]


def test_dedup_index_deferred_step_functions(spark, tmp_path):
    """`func.dedup_index_ingest(..., defer=1)` + `func.dedup_index_flush`
    from the step language: a 2-batch load commits ONE snapshot version,
    the second batch's probe sees the first's pending admissions, and
    flushing without an open context is loud."""
    import pytest as _pytest

    from easy_sql_spark.runtime.processor import SqlProcessor
    from easy_sql_spark.runtime.snapshots import SnapshotTable

    didx = str(tmp_path / "didx_def")
    etl = f"""-- target=temp.b1
select 1L as doc_id, 'the quick brown fox jumps over the lazy dog' as text
union all select 2L, 'an entirely different document about spark shuffles'

-- target=func.dedup_index_ingest({didx}, b1, adm1, 0, 1)

-- target=temp.b2
select 10L as doc_id, 'the quick brown fox jumps over the lazy dog' as text
union all select 11L, 'completely novel content never seen before today'

-- target=func.dedup_index_ingest({didx}, b2, adm2, 1, 1)

-- target=func.dedup_index_flush({didx})
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert {r.doc_id for r in spark.table("adm1").collect()} == {1, 2}
    # doc 10 duplicates PENDING doc 1 — rejected before any commit
    assert {r.doc_id for r in spark.table("adm2").collect()} == {11}
    t = SnapshotTable(spark, didx)
    assert t.latest_version() == 1  # ONE coalesced commit
    assert t.manifest(1)["batch_ids"] == [0, 1]

    bad = f"-- target=func.dedup_index_flush({didx})\n"
    with _pytest.raises(Exception, match="no open deferred"):
        SqlProcessor(spark, bad, logger=lambda m: None).run()


def test_write_audit_publish(spark, root):
    """WAP: a failed audit leaves NO trace (no version, staged dirs
    reaped); a passing audit publishes atomically."""
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="rejected.*id is not null"):
        t.write_audit_publish(
            spark.createDataFrame([(None, "x"), (3, "c")], "id int, v string"),
            checks=["id is not null", "v <> ''"],
        )
    assert t.latest_version() == 1  # nothing published
    # staged commit dir was deleted, not left as an orphan
    assert all(
        d.startswith("commit=1-")
        for d in t.fs.list_names(f"{root}/data")
    )

    t.write_audit_publish(
        _df(spark, [(2, "b"), (3, "c")]),
        checks=["id is not null", "id > 0"],
    )
    assert t.latest_version() == 2
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    assert t.manifest(2)["operation"] == "wap_append"
    # NULL check result counts as a violation (coalesce false), not a pass
    with pytest.raises(ValueError, match="rejected"):
        t.write_audit_publish(
            spark.createDataFrame([(4, None)], "id int, v string"),
            checks=["length(v) > 0"],
        )


def test_read_where_in_pruning(spark, root):
    t = SnapshotTable(spark, root)
    t.create(spark.sql("select 1 id, 5 k"), stats_cols=["k"])
    t.append(spark.sql("select 2 id, 50 k union all select 3, 60"))
    files_lo = set(t.read(where=[("k", "in", [5])]).inputFiles())
    files_hi = set(t.read(where=[("k", "in", [55, 99])]).inputFiles())
    assert files_lo and files_hi and files_lo.isdisjoint(files_hi)
    # superset guarantee: predicate still applied by the caller
    from pyspark.sql import functions as F

    got = sorted(
        r.id
        for r in t.read(where=[("k", "in", [50, 60])])
        .where(F.col("k").isin(50, 60))
        .collect()
    )
    assert got == [2, 3]
    # incomparable member: never prunes (conservative)
    assert sorted(r.id for r in t.read(where=[("k", "in", ["zzz"])]).collect()) == [1, 2, 3]


def test_vacuum_dry_run_touches_nothing(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    before = set(t.fs.list_names(f"{root}/data"))
    rep = t.vacuum(retain_versions=1, min_age_seconds=0, dry_run=True)
    assert rep["dry_run"] and rep["deleted_dirs"] == 1 and rep["paths"]
    assert set(t.fs.list_names(f"{root}/data")) == before  # nothing gone
    assert t.latest_version() == 2 and len(t.existing_versions()) == 2
    # the real run deletes exactly what the dry run listed
    rep2 = t.vacuum(retain_versions=1, min_age_seconds=0)
    assert rep2["paths"] == rep["paths"]
    assert len(set(t.fs.list_names(f"{root}/data"))) == 1


def test_rollback_by_timestamp_and_changes_step_func(spark, root):
    from easy_sql_spark.runtime.processor import SqlProcessor

    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    ts_after_v1 = t.manifest(1)["ts"]
    t.overwrite(_df(spark, [(9, "z")]))

    etl = f"""-- target=func.snapshot_changes({root}, delta_v, 1, 2)
-- target=func.snapshot_rollback({root}, ts:{ts_after_v1})
-- target=func.snapshot_view({root}, after_rb)
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    delta = {(r.id, r._change_type) for r in spark.table("delta_v").collect()}
    assert delta == {(9, "insert"), (1, "delete")}
    assert {(r.id, r.v) for r in spark.table("after_rb").collect()} == {(1, "a")}


def test_check_constraints_enforced_in_write_path(spark, root):
    from easy_sql_spark.runtime.snapshots import SnapshotConstraintError

    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a"), (2, "b")]))
    t.add_constraint("id_pos", "id > 0")
    assert t.constraints() == {"id_pos": "id > 0"}

    # violating batch fails the WRITE JOB itself; no version lands and
    # readers never see the rows (the partial commit dir is an orphan)
    v_before = t.latest_version()
    with pytest.raises(SnapshotConstraintError, match="id_pos"):
        t.append(_df(spark, [(0, "zero")]))
    assert t.latest_version() == v_before
    assert sorted(r.id for r in t.read().collect()) == [1, 2]

    # SQL CHECK semantics: NULL (UNKNOWN) passes
    t.append(_df(spark, [(None, "null-ok")]))
    assert t.read().count() == 3

    # merge enforces too
    with pytest.raises(SnapshotConstraintError, match="id_pos"):
        t.merge(_df(spark, [(-7, "neg")]), keys=["id"])

    # add_constraint validates EXISTING data first
    with pytest.raises(SnapshotConstraintError, match="v_len"):
        t.add_constraint("v_len", "length(v) <= 1")
    assert "v_len" not in t.constraints()

    t.drop_constraint("id_pos")
    assert t.constraints() == {}
    t.append(_df(spark, [(0, "now-fine")]))
    assert t.read().count() == 4
    # constraint commits are metadata-only: no data dirs added
    ops = [h["operation"] for h in t.history()]
    assert "add_constraint_id_pos" in ops and "drop_constraint_id_pos" in ops
    for h in t.history():
        if h["operation"].startswith(("add_constraint", "drop_constraint")):
            assert h["added_dirs"] == 0


def test_row_count_metadata_only(spark, root):
    t = SnapshotTable(spark, root)
    df = spark.range(20).selectExpr("id", "cast(id % 3 as string) p")
    t.create(df, partition_by=["p"])
    t.append(spark.range(100, 104).selectExpr("id", "'0' p"))
    assert t.row_count() == 24
    assert t.row_count(partitions={"p": ["0"]}) == 7 + 4
    assert t.row_count(version=1) == 20
    with pytest.raises(ValueError, match="not partition columns"):
        t.row_count(partitions={"id": [1]})

    # metadata-only: answered without listing a single data file — prove
    # it by making the data UNREADABLE and counting anyway
    data = f"{root}/data"
    shutil.move(data, data + ".hidden")
    try:
        assert t.row_count() == 24
    finally:
        shutil.move(data + ".hidden", data)


def test_shallow_clone_independence_and_materialize(spark, root):
    t = SnapshotTable(spark, root)
    t.create(
        spark.range(10).selectExpr("id", "cast(id % 2 as string) p"),
        partition_by=["p"],
        stats_cols=["id"],
    )
    t.add_constraint("id_nonneg", "id >= 0")

    c = t.clone_to(root + "_clone")
    # zero data copied: the clone's v1 references the source's files
    assert c.manifest(1)["external"]
    assert c.row_count() == 10
    assert c.constraints() == {"id_nonneg": "id >= 0"}
    assert sorted(r.id for r in c.read().collect()) == list(range(10))

    # clone target must be fresh
    with pytest.raises(ValueError, match="already exists"):
        t.clone_to(root + "_clone")

    # writes to the clone never touch the source
    c.append(spark.range(50, 53).selectExpr("id", "'1' p"))
    c.merge(
        spark.createDataFrame([(0, "0")], "id long, p string"), keys=["id"]
    )
    c.delete_where([("id", ">=", 52)])
    assert t.row_count() == 10
    assert sorted(r.id for r in t.read().collect()) == list(range(10))
    assert sorted(r.id for r in c.read().collect()) == list(range(10)) + [50, 51]

    # manifest stats pruning still works through the clone boundary
    pruned = c.read(where=[("id", ">=", 50)])
    assert sorted(r.id for r in pruned.collect() if r.id >= 50) == [50, 51]

    # compact materializes: live set rewritten locally, no external refs
    c.compact()
    assert not c.manifest(c.latest_version()).get("external")
    assert sorted(r.id for r in c.read().collect()) == list(range(10)) + [50, 51]
    # after materializing, vacuuming the SOURCE cannot hurt the clone
    t.overwrite(spark.range(3).selectExpr("id", "'0' p"))
    t.vacuum(retain_versions=1, min_age_seconds=0)
    assert sorted(r.id for r in c.read().collect()) == list(range(10)) + [50, 51]


def test_clone_of_clone_and_change_feed(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a"), (2, "b")]))
    c1 = t.clone_to(root + "_c1")
    c1.append(_df(spark, [(3, "c")]))
    c2 = c1.clone_to(root + "_c2")
    # grandchild resolves each dir to its ORIGINAL base, not the parent
    assert sorted(r.id for r in c2.read().collect()) == [1, 2, 3]
    assert c2.row_count() == 3
    # CDF on a clone across its own commits
    c2.append(_df(spark, [(4, "d")]))
    delta = {(r.id, r._change_type) for r in c2.changes(1, 2).collect()}
    assert delta == {(4, "insert")}


def test_clone_constraint_rowcount_step_functions(spark, root):
    """Round-5 step-language surface: clone, constraints, metadata
    count — all via func. steps, with check. wiring the count into the
    quality-gate machinery."""
    from easy_sql_spark.runtime.processor import SqlProcessor

    etl = f"""-- target=temp.batch1
select 1 as id, 'x' as p, 10 as amount
union all select 2, 'y', 20

-- target=func.snapshot_commit({root}, batch1, append, p)
-- target=func.snapshot_add_constraint({root}, amt_pos, amount >= 0)
-- target=func.snapshot_clone({root}, {root}_branch)

-- target=temp.batch2
select 3 as id, 'x' as p, 30 as amount

-- target=func.snapshot_commit({root}_branch, batch2, append)
-- target=func.snapshot_view({root}, src_v)
-- target=func.snapshot_view({root}_branch, branch_v)

-- target=variables
select ${{snapshot_row_count({root}_branch)}} as branch_rows

-- target=check.branch_has_three_rows
select ${{branch_rows}} = 3 as actual, true as expected
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    assert spark.table("src_v").count() == 2
    assert {r.id for r in spark.table("branch_v").collect()} == {1, 2, 3}

    # the cloned constraint rejects a bad batch through the func surface
    from easy_sql_spark.runtime.snapshots import SnapshotConstraintError

    bad = f"""-- target=temp.badb
select 9 as id, 'x' as p, -1 as amount

-- target=func.snapshot_commit({root}_branch, badb, append)
"""
    with pytest.raises(SnapshotConstraintError):
        SqlProcessor(spark, bad, logger=lambda m: None).run()


def test_constraint_rebase_audits_staged_files(spark, root):
    """A concurrent add_constraint can land between a writer's stage and
    its commit attempt; the rebase must audit the already-staged files
    for exactly the delta constraints rather than publish unvalidated
    data under the new constraint."""
    from pyspark.sql.types import StructType
    import json as _json

    from easy_sql_spark.runtime.snapshots import SnapshotConstraintError

    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    schema = StructType.fromJson(
        _json.loads(t.manifest(1)["schema"])
    )

    # stage WITHOUT constraints (simulates the pre-race stage)
    _, bad_dirs = t._stage(_df(spark, [(-5, "bad")]), [], 90)
    staged = {"dirs": bad_dirs, "constraints": {}}
    parent_with_cs = {**t.manifest(1), "constraints": {"id_pos": "id > 0"}}
    with pytest.raises(SnapshotConstraintError, match="id_pos"):
        t._recheck_constraints(staged, parent_with_cs, schema, [])

    # clean staged data passes and records the audited constraint so a
    # second rebase does not re-scan
    _, ok_dirs = t._stage(_df(spark, [(7, "ok")]), [], 91)
    staged = {"dirs": ok_dirs, "constraints": {}}
    t._recheck_constraints(staged, parent_with_cs, schema, [])
    assert staged["constraints"] == {"id_pos": "id > 0"}


def test_snapshot_files_detail_view(spark, root):
    from easy_sql_spark.runtime.processor import SqlProcessor

    t = SnapshotTable(spark, root)
    t.create(
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "x")], "id int, p string"
        ),
        partition_by=["p"],
        stats_cols=["id"],
    )
    c = t.clone_to(root + "_b")
    c.append(spark.createDataFrame([(9, "z")], "id int, p string"))

    etl = f"-- target=func.snapshot_files({root}_b, files_v)\n"
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    rows = spark.table("files_v").collect()
    assert sum(r.rows for r in rows) == 4
    # cloned dirs carry their external base; the fresh append does not
    assert {r.external_base is not None for r in rows} == {True, False}
    import json as _json

    with_stats = [r for r in rows if r.stats]
    assert with_stats and all(
        "id" in _json.loads(r.stats) for r in with_stats
    )


def test_streaming_commit_batch_enforces_constraints(spark, root, tmp_path):
    """The exactly-once streaming sink and CHECK constraints compose: a
    micro-batch violating a constraint fails the batch write; no version
    lands, replay protection state is untouched."""
    from easy_sql_spark.runtime.snapshots import SnapshotConstraintError

    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    t.add_constraint("id_pos", "id > 0")
    assert t.commit_batch(0, _df(spark, [(5, "b")])) is not None
    v = t.latest_version()
    with pytest.raises(SnapshotConstraintError):
        t.commit_batch(1, _df(spark, [(-1, "bad")]))
    assert t.latest_version() == v
    assert t.last_committed_batch() == 0
    # the fixed batch (same id, corrected rows) now lands exactly once
    assert t.commit_batch(1, _df(spark, [(6, "c")])) is not None
    assert t.commit_batch(1, _df(spark, [(6, "dup")])) is None
    assert sorted(r.id for r in t.read().collect()) == [1, 5, 6]


def test_null_count_stats_pruning(spark, root):
    """IS NULL / IS NOT NULL dir pruning on the manifest's per-dir null
    counts: the dir that provably cannot match is never scanned —
    proven by corrupting its files."""
    t = SnapshotTable(spark, root)
    t.create(
        spark.range(10).selectExpr("id", "cast(id as string) v"),
        stats_cols=["id", "v"],
    )  # v never NULL here
    t.append(
        spark.range(10, 15).selectExpr("id", "cast(null as string) v")
    )  # v always NULL here

    m = t.manifest(t.latest_version())
    all_null_dir = m["added"][0]
    no_null_dir = next(d for d in m["live"] if d != all_null_dir)

    # corrupt the all-NULL dir; IS NOT NULL must never open it
    import os

    for n in os.listdir(f"{t.data_dir}/{all_null_dir}"):
        if n.endswith(".parquet"):
            with open(f"{t.data_dir}/{all_null_dir}/{n}", "wb") as f:
                f.write(b"broken")
    got = {r.id for r in t.read(where=[("v", "not_null", None)]).collect()}
    assert got == set(range(10))

    # restore a fresh table the other way round for IS NULL
    t2 = SnapshotTable(spark, root + "_b")
    t2.create(
        spark.range(10).selectExpr("id", "cast(id as string) v"),
        stats_cols=["v"],
    )
    t2.append(spark.range(10, 15).selectExpr("id", "cast(null as string) v"))
    m2 = t2.manifest(t2.latest_version())
    clean_dir = next(d for d in m2["live"] if d != m2["added"][0])
    for n in os.listdir(f"{t2.data_dir}/{clean_dir}"):
        if n.endswith(".parquet"):
            with open(f"{t2.data_dir}/{clean_dir}/{n}", "wb") as f:
                f.write(b"broken")
    got2 = {r.id for r in t2.read(where=[("v", "is_null", None)]).collect()}
    assert got2 == {10, 11, 12, 13, 14}


def test_deletion_vector_delete_end_to_end(spark, root):
    """delete_where_dv: O(deleted rows) merge-on-read DELETE — reads,
    metadata counts, merges and copy-on-write deletes all respect the
    DV; compact applies-and-clears; exports carry live DVs through
    (Delta DV descriptors / Iceberg position deletes); vacuum never
    reaps a referenced DV dir; time travel sees pre-DV state."""
    t = SnapshotTable(spark, root)
    t.create(
        spark.range(100).selectExpr("id", "id % 7 as g"), stats_cols=["id"]
    )
    t.append(spark.range(100, 150).selectExpr("id", "id % 7 as g"))

    # zero-match delete: metadata-only commit under a DISTINCT op name —
    # changes() refuses real delete_dv commits, and a no-op must not
    # poison the change feed over its range forever (r6 advice)
    v_before = t.latest_version()
    rep0 = t.delete_where_dv([("id", "<", 0)])
    assert rep0["deleted_rows"] == 0
    assert t.manifest(t.latest_version())["operation"] == "delete_dv_noop"
    assert t.changes(v_before, t.latest_version()).count() == 0

    rep = t.delete_where_dv([("id", "<", 20)])
    assert rep["deleted_rows"] == 20 and rep["operation"] == "delete_dv"
    assert sorted(r.id for r in t.read().collect()) == list(range(20, 150))
    assert t.row_count() == 130  # metadata: rows minus trusted DV counts
    # stats-pruned reads still apply the DV (where= is a superset
    # guarantee — re-apply the predicate, as the contract requires)
    assert {
        r.id
        for r in t.read(where=[("id", "<", 25)]).where("id < 25").collect()
    } == {20, 21, 22, 23, 24}

    # overlapping second DV never double-counts already-deleted rows
    assert t.delete_where_dv([("id", "<", 30)])["deleted_rows"] == 10
    assert t.row_count() == 120
    # time travel to the pre-DV version
    assert t.read(version=2).count() == 150

    # merge: DV'd rows are not matchable and never resurrect
    t.merge(
        spark.createDataFrame([(25, 99), (500, 1)], "id long, g long"),
        keys=["id"],
    )
    got = {r.id: r.g for r in t.read().collect()}
    assert 29 not in got and got[25] == 99 and got[500] == 1
    # merge invalidated a DV's trusted count -> row_count falls back to
    # a (DV-applied) scan and stays exact
    # 150 - 20 - 10 deleted, then BOTH merge keys insert (25 was
    # DV-deleted, so it re-inserts rather than updates): 122
    assert t.row_count() == t.read().count() == 122

    # exports carry the live DVs through: both replay paths must see
    # exactly the DV-applied visible rows (unpartitioned table, so the
    # iceberg position-delete export applies too)
    from easy_sql_spark.sources.delta_log import (
        export_snapshot_to_delta,
        read_delta,
    )
    from easy_sql_spark.sources.iceberg_meta import (
        export_snapshot_to_iceberg,
        read_iceberg,
    )

    want = {(r.id, r.g) for r in t.read().collect()}
    export_snapshot_to_delta(t)
    assert {(r.id, r.g) for r in read_delta(spark, t.root).collect()} == want
    export_snapshot_to_iceberg(t)
    assert {(r.id, r.g) for r in read_iceberg(spark, t.root).collect()} == want

    # changes() refuses a DV-crossing range
    with pytest.raises(ValueError, match="deletion-vector"):
        t.changes(1, t.latest_version())

    # compact applies + clears; exports work again
    t.compact()
    assert not t.manifest(t.latest_version()).get("dvs")
    assert t.row_count() == 122
    export_snapshot_to_delta(t)

    # vacuum keeps the RETAINED versions' dv dirs; here all DV versions
    # are below the retained window, so their dirs may go — but the
    # compacted data survives intact
    t.vacuum(retain_versions=1, min_age_seconds=0)
    assert t.read().count() == 122


def test_deletion_vector_vacuum_protects_referenced_dv(spark, root):
    t = SnapshotTable(spark, root)
    t.create(spark.range(50).selectExpr("id"))
    t.delete_where_dv([("id", ">=", 40)])

    # rollback to the pre-DV version restores full visibility (and the
    # DV state itself is versioned: rolling forward again re-applies)
    t.rollback(1)
    assert t.read().count() == 50 and t.row_count() == 50
    t.rollback(2)
    assert t.read().count() == 40 and t.row_count() == 40

    # the retained window references the DV dir: vacuum must not reap it
    t.vacuum(retain_versions=1, min_age_seconds=0)
    assert sorted(r.id for r in t.read().collect()) == list(range(40))
    assert t.row_count() == 40

    # clone carries the DV (external-resolved) and reads identically
    c = t.clone_to(root + "_c")
    assert sorted(r.id for r in c.read().collect()) == list(range(40))


@pytest.mark.parametrize("key", ["streams", "rows", "bytes"])
def test_manifest_lacking_a_required_key_is_refused(spark, root, key):
    """One manifest format: a manifest without ``streams``, ``rows`` or
    ``bytes`` is refused by every reader with an error naming the
    version and the key — no fallback guesses the missing state."""
    import json as _json

    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    p = t._manifest_path(1)
    m = _json.loads(t.fs.read_bytes(p))
    del m[key]
    t.fs.delete(p)
    t.fs.create_atomic(p, _json.dumps(m).encode())
    for call in (
        t.read,
        lambda: t.append(_df(spark, [(2, "b")])),
        t.last_committed_batch,
    ):
        with pytest.raises(ValueError, match=rf"v1 .*\['{key}'\]"):
            call()


def test_vacuum_refuses_to_drop_the_latest_manifest(spark, root):
    t = SnapshotTable(spark, root)
    t.create(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="retain_versions"):
        t.vacuum(retain_versions=0, min_age_seconds=0)
    assert t.existing_versions() == [1]


def test_scan_stats_path_records_empty_dirs(spark, root, monkeypatch):
    """With footers unusable (the distributed scan path), an empty append
    still records its dir: 0 rows and empty bounds, exactly what the
    footer path records, so ``row_count()`` stays metadata-only."""
    empty = spark.range(0).selectExpr("id", "cast(id as string) v")
    ref = SnapshotTable(spark, root + "_footer")
    ref.create(spark.range(3).selectExpr("id", "cast(id as string) v"), stats_cols=["id"])
    ref.append(empty)
    want = ref.manifest(2)

    monkeypatch.setattr(SnapshotTable, "_footer_stats", lambda *a, **k: None)
    t = SnapshotTable(spark, root)
    t.create(spark.range(3).selectExpr("id", "cast(id as string) v"), stats_cols=["id"])
    t.append(empty)
    m = t.manifest(2)
    (new,) = m["added"]
    assert len(m["live"]) == 2 and set(m["rows"]) == set(m["live"])
    assert m["rows"][new] == want["rows"][want["added"][0]] == 0
    assert m["stats"][new] == want["stats"][want["added"][0]]

    data = f"{root}/data"
    shutil.move(data, data + ".hidden")
    try:
        assert t.row_count() == 3
    finally:
        shutil.move(data + ".hidden", data)


_NAN = float("nan")
# (iceberg type, min, max, op, value, a file with these bounds survives)
_BOUND_CASES = [
    ("long", 1, 10, "=", 11, False),
    ("long", 1, 10, "=", 5, True),
    ("long", 1, 10, "<", 1, False),
    ("long", 1, 10, "<=", 1, True),
    ("long", 1, 10, ">", 10, False),
    ("long", 1, 10, ">=", 10, True),
    ("long", 1, 10, "in", [0, 11], False),
    ("long", 1, 10, "in", [0, 5], True),
    ("long", 1, 10, "=", "5", True),  # incomparable types never prune
    ("double", 1.0, 2.0, "=", Decimal("3.5"), False),
    ("double", 0.0, _NAN, ">", 4.5, True),  # NaN max: no upper bound
    ("double", 0.0, _NAN, "<", -1.0, False),  # ... but the min prunes
    ("string", "b", "d", "=", "a", False),
    ("string", "b", "d", "in", ["c"], True),
]


@pytest.mark.parametrize("case", _BOUND_CASES, ids=lambda c: f"{c[0]}{c[3]}{c[4]}")
def test_one_bounds_rule_for_snapshot_delta_iceberg(case):
    """The snapshot, Delta and Iceberg readers skip on the same min/max
    rule; each only decodes its own bound encoding."""
    import json as _json

    from easy_sql_spark.sources.delta_log import _add_survives
    from easy_sql_spark.sources.iceberg_meta import _encode_bound, _file_survives

    ice_type, mn, mx, op, val, survives = case
    where = [("x", op, val)]
    assert SnapshotTable._dir_survives({"x": [mn, mx, 0]}, where) == survives
    stats = _json.dumps({"minValues": {"x": mn}, "maxValues": {"x": mx}})
    assert _add_survives({"stats": stats}, where) == survives
    entry = {
        "lower_bounds": {"1": _encode_bound(ice_type, mn)},
        "upper_bounds": {"1": _encode_bound(ice_type, mx)},
    }
    assert _file_survives(entry, where, {"x": (1, ice_type)}) == survives


def test_iceberg_export_nan_upper_bound_keeps_files(spark, root):
    """A double stats column's footer max is widened to NaN; exported as
    the Iceberg upper bound it must read as unknown, not prune the file."""
    from easy_sql_spark.sources.iceberg_meta import (
        export_snapshot_to_iceberg,
        read_iceberg,
    )

    t = SnapshotTable(spark, root)
    t.create(spark.range(10).selectExpr("cast(id as double) x"), stats_cols=["x"])
    where = [("x", ">", 4.5)]
    assert t.read(where=where).count() == 10
    export_snapshot_to_iceberg(t)
    got = read_iceberg(spark, t.root, where=where)
    assert sorted(r.x for r in got.where("x > 4.5").collect()) == [5.0, 6.0, 7.0, 8.0, 9.0]
