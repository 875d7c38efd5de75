"""Streaming change-data-feed source over snapshot tables.

``spark.readStream.format("snapshot_cdf").option("root", <table root>)``
tails a snapshot table's manifest log (runtime/snapshots.py): every
micro-batch delivers the NET row changes of the versions committed
since the last batch, as the table's columns plus ``_change_type``
(``insert`` | ``delete``) and ``_commit_version`` — the hook an
incremental downstream consumer subscribes to instead of re-diffing
table reads (Delta's readChangeFeed, expressed on the Spark 4 Python
Data Source API).

Design:

- offsets ARE manifest versions ({"version": N}); the commit log is the
  stream, so exactly-once replay falls out of the checkpoint for free.
- ``partitions(start, end)`` plans one InputPartition per net-changed
  data dir (added dirs -> inserts, removed -> deletes, a dir added and
  removed inside the range cancels and is never read); consuming a day
  of appends from a 100 TB table ships a day of files to executors.
- ``read`` runs ON EXECUTORS without a SparkSession, so files are read
  with pyarrow directly and partition-column values are parsed from the
  dir path (the same Hive layout the writer produced).  The root must
  therefore be on a posix-visible filesystem (local/NFS/fuse); the
  batch-side ``SnapshotTable.changes`` covers any Hadoop FS.
- a range is refused by the same rule as the batch change feed
  (``runtime.snapshots.check_change_range``): ``compact`` commits rewrite
  data without changing it, so a range crossing one raises unless option
  ``allow_rewrites`` is true; and since ``read`` cannot apply deletion
  vectors, a range crossing a ``delete_dv`` commit, or changing a dir a
  deletion vector targets, always raises.

Register once per session::

    spark.dataSource.register(SnapshotChangeFeedDataSource)
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_META_FIELDS = [
    StructField("_change_type", StringType()),
    StructField("_commit_version", IntegerType()),
]


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, "_manifests", "v%08d.json" % version)


def _read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def _existing_versions(root: str) -> set[int]:
    d = os.path.join(root, "_manifests")
    if not os.path.isdir(d):
        return set()
    return {
        int(n[1:9])
        for n in os.listdir(d)
        if n.startswith("v") and n.endswith(".json")
    }


def _latest_version(root: str) -> int:
    return max(_existing_versions(root), default=0)


class _CDFPartition(InputPartition):
    def __init__(self, root, rel_dir, change, version, part_cols, schema_json):
        self.root = root
        self.rel_dir = rel_dir
        self.change = change
        self.version = version
        self.part_cols = part_cols
        self.schema_json = schema_json


class SnapshotCDFStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.root = options.get("root")
        if not self.root:
            raise ValueError("snapshot_cdf requires option 'root'")
        self.allow_rewrites = str(
            options.get("allow_rewrites", "false")
        ).lower() in ("true", "1")
        # starting_version semantics mirror Delta: changes AFTER it
        start = options.get("starting_version")
        self._start = (
            int(start) if start is not None else _latest_version(self.root)
        )
        # backlog admission control: at most N source versions per
        # micro-batch, so a consumer restarting after a long gap drains
        # the backlog in bounded batches instead of one giant one
        mvpb = options.get("max_versions_per_batch")
        self._max_versions = int(mvpb) if mvpb is not None else None
        self._committed = self._start
        # the Python DataSource API never hands the source the RESTORED
        # checkpoint offset directly, but MicroBatchExecution always
        # re-plans the restored batch (partitions(restored, restored))
        # before asking for new offsets, so partitions() is where a
        # restarted source learns its true position — without that
        # update a restart with a backlog larger than the cap would
        # compute latestOffset BELOW the restored offset and the stream
        # would read it as "no new data" forever (r11 fix, shared with
        # the hudi_cdc source)
        self.schema = schema

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        latest = _latest_version(self.root)
        if self._max_versions is not None:
            latest = min(latest, self._committed + self._max_versions)
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        v0, v1 = int(start["version"]), int(end["version"])
        self._committed = max(self._committed, v0)
        if v1 <= v0:
            return []
        # the executor-side pyarrow read cannot apply deletion vectors
        from ..runtime.snapshots import check_change_range

        m0, m1 = check_change_range(
            lambda v: _read_manifest(self.root, v), _existing_versions(self.root),
            v0, v1, self.allow_rewrites, applies_dvs=False,
        )
        frm, to = set(m0["live"]), set(m1["live"])
        parts = []
        for d in sorted(to - frm):
            parts.append(_CDFPartition(
                self.root, d, "insert", v1, m1["partition_cols"], m1["schema"]
            ))
        for d in sorted(frm - to):
            parts.append(_CDFPartition(
                self.root, d, "delete", v1, m1["partition_cols"], m1["schema"]
            ))
        return parts

    def read(self, partition: _CDFPartition):
        # executor-side: pyarrow scan of one dir, no SparkSession
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import _parse_datatype_json_string

        spark_schema = _parse_datatype_json_string(partition.schema_json)
        path = os.path.join(partition.root, "data", partition.rel_dir)
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        # partition values ride the dir path (hive layout), not the files
        segs = dict(
            s.split("=", 1)
            for s in partition.rel_dir.split("/")[1:]
            if "=" in s
        )
        # arrow type for a constant partition column comes from the
        # SPARK field type via pyspark's own mapping — a hand-rolled
        # partial dict left date/boolean/decimal columns to pa.null()
        # inference when all-NULL, the exact schema poisoning this
        # explicit-type path exists to prevent (ADVICE r8 #3)
        from pyspark.sql.pandas.types import to_arrow_type

        for fpath in files:
            t = pq.read_table(fpath)
            n = t.num_rows
            if n == 0:
                # skewed/empty writer tasks leave 0-row part files; a
                # zero-length batch would also carry NULL-typed constant
                # columns (pa.array([]) infers null) and poison the arrow
                # stream's schema ("Tried to write record batch with
                # different schema") — skip, they carry no changes
                continue
            cols, names = [], []
            for field in spark_schema.fields:
                names.append(field.name)
                if field.name in t.column_names:
                    cols.append(t[field.name].combine_chunks())
                else:  # partition column: constant from the path
                    raw = segs.get(field.name)
                    if raw == "__HIVE_DEFAULT_PARTITION__":
                        raw = None  # hive spelling of a NULL value
                    elif raw is not None:
                        from urllib.parse import unquote

                        raw = unquote(raw)
                    typ = field.dataType.simpleString()
                    val: object = raw
                    if raw is not None:
                        if typ in ("int", "bigint", "smallint", "tinyint"):
                            val = int(raw)
                        elif typ in ("double", "float"):
                            val = float(raw)
                        elif typ == "boolean":
                            val = raw.lower() == "true"
                        elif typ == "date":
                            import datetime as _dt

                            val = _dt.date.fromisoformat(raw)
                        elif typ.startswith("decimal"):
                            import decimal as _dec

                            val = _dec.Decimal(raw)
                        elif typ != "string":
                            raise NotImplementedError(
                                f"CDF partition column {field.name!r} of "
                                f"type {typ}"
                            )
                    # explicit arrow type: an all-NULL constant column
                    # must not infer pa.null() in one batch and clash
                    # with a typed one in the next
                    cols.append(
                        pa.array(
                            [val] * n, type=to_arrow_type(field.dataType)
                        )
                    )
            cols.append(pa.array([partition.change] * n, type=pa.string()))
            cols.append(pa.array([partition.version] * n, type=pa.int32()))
            names += ["_change_type", "_commit_version"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    def commit(self, end: dict) -> None:
        self._committed = max(self._committed, int(end["version"]))


class SnapshotChangeFeedDataSource(DataSource):
    """``format("snapshot_cdf")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdf"

    def schema(self):
        root = self.options.get("root")
        if not root:
            raise ValueError("snapshot_cdf requires option 'root'")
        latest = _latest_version(root)
        if not latest:
            raise ValueError(f"no committed snapshot versions at {root}")
        base = StructType.fromJson(
            json.loads(_read_manifest(root, latest)["schema"])
        )
        # no fromDDL here: the data source instantiates in a sessionless
        # python worker and DDL parsing needs a live SparkSession
        for f in _META_FIELDS:
            base = base.add(f)
        return base

    def streamReader(self, schema: StructType) -> SnapshotCDFStreamReader:
        return SnapshotCDFStreamReader(schema, dict(self.options))
