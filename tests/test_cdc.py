"""CDC changelog ingestion: Debezium decode + apply_changes + the
snapshot_cdc streaming sink (reference parity:
easy_sql/sql_processor/backend/flink.py:339-414 postgres-cdc connector,
test/sample_etl.flink.postgres-cdc.sql — re-expressed as Debezium-JSON
envelopes over Structured Streaming applied to the snapshot layer)."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from easy_sql_spark.runtime.snapshots import SnapshotTable
from easy_sql_spark.streaming.cdc import decode_debezium
from easy_sql_spark.streaming.tables import StreamingTables


def env(op, before=None, after=None, ts=0, lsn=None, wrapped=False):
    body = {
        "op": op,
        "ts_ms": ts,
        "before": before,
        "after": after,
        "source": {"lsn": lsn if lsn is not None else ts, "ts_ms": ts},
    }
    return json.dumps({"schema": {}, "payload": body} if wrapped else body)


SCHEMA = "id INT, val STRING"


def _decode(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return decode_debezium(df, SCHEMA).orderBy("__seq")


def test_decode_ops_and_envelopes(spark):
    rows = _decode(
        spark,
        [
            env("c", after={"id": 1, "val": "a"}, ts=10),
            env("u", before={"id": 1, "val": "a"}, after={"id": 1, "val": "b"}, ts=20, wrapped=True),
            env("r", after={"id": 2, "val": "snap"}, ts=30),
            env("d", before={"id": 2, "val": "snap"}, ts=40, lsn=999, wrapped=True),
        ],
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, "a", "upsert", 10, 10),
        (1, "b", "upsert", 20, 20),
        (2, "snap", "upsert", 30, 30),
        (2, "snap", "delete", 40, 999),
    ]
    assert rows[0].__fields__ == ["id", "val", "__op", "__ts_ms", "__seq"]


def test_decode_drops_tombstones_and_garbage(spark):
    rows = _decode(
        spark,
        [
            "",                      # kafka tombstone-ish empty value
            "not json at all",
            json.dumps({"foo": 1}),  # no op
            env("d", before=None, ts=5),   # delete with no before image
            env("c", after={"id": 7, "val": "x"}, ts=6),
        ],
    ).collect()
    assert [tuple(r) for r in rows] == [(7, "x", "upsert", 6, 6)]


def test_apply_changes_upserts_and_deletes(spark):
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="cdc_ac_") + "/t")
    t.create(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, val string"
    ))
    batch = spark.createDataFrame(
        [
            (2, "b2", "upsert", 10),
            (3, None, "delete", 11),
            (4, "d", "upsert", 12),
            # same key twice: upsert then delete — the later seq wins
            (5, "e", "upsert", 13),
            (5, "e", "delete", 14),
        ],
        "id int, val string, __op string, __seq long",
    )
    m = t.apply_changes(batch, ["id"], op_col="__op", precombine="__seq")
    assert m["operation"] == "apply_changes"
    got = {
        (r["id"], r["val"])
        for r in t.read().select("id", "val").collect()
    }
    assert got == {(1, "a"), (2, "b2"), (4, "d")}
    # __seq rides along as payload metadata for applied rows
    assert "__seq" in t.read().columns


def test_apply_changes_delete_then_reinsert_nets_to_insert(spark):
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="cdc_ac2_") + "/t")
    t.create(spark.createDataFrame([(1, "a")], "id int, val string"))
    batch = spark.createDataFrame(
        [(1, None, "delete", 1), (1, "a2", "upsert", 2)],
        "id int, val string, __op string, __seq long",
    )
    t.apply_changes(batch, ["id"], precombine="__seq")
    assert [(r["id"], r["val"]) for r in t.read().select("id", "val").collect()] == [(1, "a2")]


def _write_changelog(dirpath: str, name: str, lines: list[str]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(dirpath, name))


def _cdc_config(in_dir: str, table: str, ck: str) -> dict:
    return {
        "sources": [
            {
                "name": "orders_cdc",
                "format": "text",
                "path": in_dir,
                "cdc": {"envelope": "debezium-json", "schema": SCHEMA},
            }
        ],
        "sinks": [
            {
                "name": "cdc.orders_mirror",
                "format": "snapshot_cdc",
                "path": table,
                "checkpoint": ck,
                "trigger": "availableNow",
                "options": {"keys": "id", "precombine": "__seq"},
            }
        ],
    }


def _replay_oracle(events):
    """Sequential dict replay of (op, id, val) — the semantics the
    applied snapshot table must equal."""
    state: dict[int, str] = {}
    for op, i, val in events:
        if op == "d":
            state.pop(i, None)
        else:
            state[i] = val
    return set(state.items())


def test_snapshot_cdc_sink_end_to_end(spark):
    root = tempfile.mkdtemp(prefix="cdc_e2e_")
    in_dir, table, ck = f"{root}/in", f"{root}/mirror", f"{root}/ck"
    events1 = [("c", 1, "a"), ("c", 2, "b"), ("u", 1, "a1"), ("c", 3, "c")]
    _write_changelog(
        in_dir,
        "batch1.json",
        [
            env(op, before=None if op != "d" else {"id": i, "val": v},
                after=None if op == "d" else {"id": i, "val": v}, ts=n, wrapped=n % 2 == 0)
            for n, (op, i, v) in enumerate(events1)
        ],
    )
    st = StreamingTables(spark, _cdc_config(in_dir, table, ck))
    st.register_sources()
    q = st.start_insert(spark.table("orders_cdc"), "cdc.orders_mirror")
    q.awaitTermination(60)

    t = SnapshotTable(spark, table)
    got = {(r["id"], r["val"]) for r in t.read().select("id", "val").collect()}
    assert got == _replay_oracle(events1)

    # second batch: updates + deletes + reinsert, applied incrementally
    events2 = [("d", 2, "b"), ("u", 3, "c2"), ("c", 4, "d"), ("d", 1, "a1"), ("c", 1, "A")]
    _write_changelog(
        in_dir,
        "batch2.json",
        [
            env(op, before={"id": i, "val": v} if op == "d" else None,
                after=None if op == "d" else {"id": i, "val": v}, ts=100 + n)
            for n, (op, i, v) in enumerate(events2)
        ],
    )
    st2 = StreamingTables(spark, _cdc_config(in_dir, table, ck))
    st2.register_sources()
    q2 = st2.start_insert(spark.table("orders_cdc"), "cdc.orders_mirror")
    q2.awaitTermination(60)

    got2 = {(r["id"], r["val"]) for r in t.read().select("id", "val").collect()}
    assert got2 == _replay_oracle(events1 + events2)
    # each applied batch is one atomic commit: v1 seed + v2 apply
    assert [h["operation"] for h in t.history()][0] == "apply_changes"

    # checkpoint-restart with no new data: nothing re-applies
    v_before = t.latest_version()
    st3 = StreamingTables(spark, _cdc_config(in_dir, table, ck))
    st3.register_sources()
    q3 = st3.start_insert(spark.table("orders_cdc"), "cdc.orders_mirror")
    q3.awaitTermination(60)
    assert t.latest_version() == v_before


def test_snapshot_cdc_first_commit_breaks_ties_like_apply_changes(spark):
    """The sink's first commit seeds the table from the batch's latest
    change per key.  On a precombine tie it must keep the same row that
    apply_changes keeps for that batch on every later commit: the one
    with the smallest md5 of the whole decoded row, whatever the input
    order."""
    import hashlib

    root = tempfile.mkdtemp(prefix="cdc_tie_")
    in_dir, table, ck = f"{root}/in", f"{root}/mirror", f"{root}/ck"

    def row_md5(val):
        # the decoded row: id, val, __op, __ts_ms, __seq
        return hashlib.md5("\x00".join(["1", val, "upsert", "7", "7"]).encode()).hexdigest()

    # input order is the reverse of md5 order: the tie-break winner comes last
    loser, winner = sorted(("p", "q"), key=row_md5, reverse=True)
    lines = [env("u", after={"id": 1, "val": v}, ts=7, lsn=7) for v in (loser, winner)]
    _write_changelog(in_dir, "b1.json", lines)
    st = StreamingTables(spark, _cdc_config(in_dir, table, ck))
    st.register_sources()
    st.start_insert(spark.table("orders_cdc"), "cdc.orders_mirror").awaitTermination(60)
    seeded = {(r["id"], r["val"]) for r in SnapshotTable(spark, table).read().collect()}

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="cdc_tie_ac_") + "/t")
    t.create(spark.createDataFrame(
        [(2, "other", 0, 0)], "id int, val string, __ts_ms long, __seq long"))
    t.apply_changes(_decode(spark, lines), ["id"], precombine="__seq")
    applied = {(r["id"], r["val"]) for r in t.read().where("id = 1").collect()}

    assert applied == {(1, winner)}
    assert seeded == applied


def _replay_by_seq(events):
    """Replay (op, id, val, seq) in SEQ order with stale-drop: the state
    a WAL consumer converges to regardless of arrival order."""
    state: dict[int, tuple[int, str]] = {}
    for op, i, val, seq in sorted(events, key=lambda e: e[3]):
        cur = state.get(i)
        if cur is not None and cur[0] > seq:
            continue
        if op == "d":
            state.pop(i, None)
        else:
            state[i] = (seq, val)
    return {(i, v) for i, (_s, v) in state.items()}


def test_apply_changes_same_key_update_then_delete_in_one_batch(spark):
    """upsert followed by delete of the same key inside ONE micro-batch
    nets to the delete (precombine picks the larger __seq)."""
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="cdc_ud_") + "/t")
    t.create(
        spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "id int, val string, __seq long"
        )
    )
    batch = spark.createDataFrame(
        [(1, "a2", "upsert", 5), (1, None, "delete", 6)],
        "id int, val string, __op string, __seq long",
    )
    t.apply_changes(batch, ["id"], precombine="__seq")
    got = {(r["id"], r["val"]) for r in t.read().select("id", "val").collect()}
    assert got == {(2, "b")}


def test_apply_changes_drops_cross_batch_stale_events(spark):
    """Late-arrival protection: events whose __seq is BELOW the stored
    row's (WAL replays, LSN regressions across merged partitions) must
    not regress state — stale upserts AND stale deletes are ignored;
    equal __seq re-applies (exact redelivery stays idempotent)."""
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="cdc_stale_") + "/t")
    t.create(
        spark.createDataFrame(
            [(1, "v10", 10), (2, "w20", 20), (3, "x30", 30)],
            "id int, val string, __seq long",
        )
    )
    late = spark.createDataFrame(
        [
            (1, "OLD", "upsert", 5),    # stale upsert: ignored
            (2, None, "delete", 7),     # stale delete: ignored
            (3, "x31", "upsert", 31),   # fresh upsert: applies
            (4, "new", "upsert", 1),    # unmatched key: inserts
            (1, "v10b", "upsert", 10),  # equal seq: idempotent re-apply
        ],
        "id int, val string, __op string, __seq long",
    )
    t.apply_changes(late, ["id"], precombine="__seq")
    got = {(r["id"], r["val"]) for r in t.read().select("id", "val").collect()}
    assert got == {(1, "v10b"), (2, "w20"), (3, "x31"), (4, "new")}


def test_snapshot_cdc_sink_out_of_order_and_tombstones(spark):
    """End-to-end against the snapshot_cdc sink: batch 2 arrives with
    LSN regressions relative to batch 1 (late replayed events), a
    tombstone burst (null-value records) interleaved, and same-key
    update+delete inside one micro-batch — the mirror must converge to
    the SEQ-ordered replay, not the arrival-ordered one."""
    root = tempfile.mkdtemp(prefix="cdc_ooo_")
    in_dir, table, ck = f"{root}/in", f"{root}/mirror", f"{root}/ck"
    # batch 1: seq 10..13
    b1 = [("c", 1, "a", 10), ("c", 2, "b", 11), ("u", 1, "a1", 12),
          ("c", 3, "c", 13)]
    _write_changelog(
        in_dir,
        "b1.json",
        [env(op, before={"id": i, "val": v} if op == "d" else None,
             after=None if op == "d" else {"id": i, "val": v},
             ts=seq, lsn=seq)
         for op, i, v, seq in b1],
    )
    st = StreamingTables(spark, _cdc_config(in_dir, table, ck))
    st.register_sources()
    st.start_insert(spark.table("orders_cdc"), "cdc.orders_mirror").awaitTermination(60)

    # batch 2: late events BELOW batch 1's seqs + fresh ones + a
    # tombstone burst + update-then-delete of one key in the same batch
    b2 = [
        ("u", 1, "STALE", 5),    # LSN regression: must not clobber a1
        ("d", 2, "b", 7),        # stale delete: must not kill b
        ("u", 3, "c2", 20),      # fresh update
        ("c", 4, "d", 21),       # fresh insert
        ("u", 4, "d1", 22),      # same-key update...
        ("d", 4, "d1", 23),      # ...then delete in the same batch
    ]
    lines = [env(op, before={"id": i, "val": v} if op == "d" else None,
                 after=None if op == "d" else {"id": i, "val": v},
                 ts=seq, lsn=seq)
             for op, i, v, seq in b2]
    # tombstone burst (Kafka log-compaction nulls) + garbage interleaved
    lines[2:2] = ["", "null", "{not json"]
    _write_changelog(in_dir, "b2.json", lines)
    st2 = StreamingTables(spark, _cdc_config(in_dir, table, ck))
    st2.register_sources()
    st2.start_insert(spark.table("orders_cdc"), "cdc.orders_mirror").awaitTermination(60)

    t = SnapshotTable(spark, table)
    got = {(r["id"], r["val"]) for r in t.read().select("id", "val").collect()}
    assert got == _replay_by_seq(b1 + b2)
    assert got == {(1, "a1"), (2, "b"), (3, "c2")}


def test_cdc_example_etl(spark, tmp_path):
    """The examples/cdc_pipeline.sql ETL end-to-end (reference sample
    parity: test/sample_etl.flink.postgres-cdc.sql)."""
    import yaml

    from easy_sql_spark.runtime.processor import SqlProcessor

    root = str(tmp_path)
    in_dir, table, ck = f"{root}/in", f"{root}/mirror", f"{root}/ck"
    events = [("c", 1, "one"), ("c", 2, "two"), ("u", 2, "TWO"), ("d", 1, "one")]
    _write_changelog(
        in_dir,
        "b.json",
        [
            env(op, before={"id": i, "val": v} if op == "d" else None,
                after=None if op == "d" else {"id": i, "val": v}, ts=n)
            for n, (op, i, v) in enumerate(events)
        ],
    )
    ex = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "examples"
    )
    with open(os.path.join(ex, "cdc_pipeline.sql"), encoding="utf-8") as f:
        etl = f.read()
    with open(os.path.join(ex, "cdc_tables.yml"), encoding="utf-8") as f:
        cfg = yaml.safe_load(f.read())
    cfg["sources"][0]["path"] = in_dir
    cfg["sinks"][0]["path"] = table
    cfg["sinks"][0]["checkpoint"] = ck
    SqlProcessor(spark, etl, streaming_config=cfg).run()
    t = SnapshotTable(spark, table)
    got = {(r["id"], r["val"]) for r in t.read().select("id", "val").collect()}
    assert got == _replay_oracle(events)
