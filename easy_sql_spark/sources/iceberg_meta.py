"""Apache Iceberg table READER — no iceberg-spark runtime jar, no avro
package: table metadata JSON + Avro manifest lists/manifests decoded
with the in-repo Avro codec (sources/avro_lite.py), data read as
ordinary pinned-schema parquet scans.

Why this works without partition handling: Iceberg partitioning is
HIDDEN — data files always contain every table column (identity
partition sources included); partition tuples in manifests are pruning
metadata only.  So correct (if unpruned) reads need exactly: the
current schema, and the live data-file paths of the chosen snapshot.
Manifest-level pruning via partition summaries is a listed growth path,
not a correctness requirement.

Supported: format v1 and v2 append/overwrite tables, snapshot-id and
timestamp time travel (snapshot-log), schema conversion for the full
primitive set + struct/list/map/decimal, identity-partition metadata
constants, and BOTH v2 row-level delete flavors — POSITION deletes as
a broadcast anti-join of the delete files' (file_path, pos) rows
against ``_metadata.row_index`` (deletes target exact file paths, so
no sequence bookkeeping is needed: rewritten files have new paths and
stale deletes match nothing), and EQUALITY deletes with the spec's
sequence-number ordering (a delete applies only to data files whose
data sequence number is strictly below the delete file's; sequence
numbers come from the manifest entries with manifest-list inheritance)
as per-equality-id-set broadcast anti-joins with null-safe matching —
including equality ids naming fields NESTED inside structs (resolved to
dotted paths; the delete file is read with the minimal nested schema).

Refused, loudly (reading would return wrong rows): non-parquet data
files, equality deletes naming non-current/dropped field ids or fields
inside lists/maps (not equality-delete-eligible per the spec).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..runtime.snapshots import bounds_exclude
from .avro_lite import read_avro_file


class IcebergUnsupportedError(NotImplementedError):
    """The table uses features whose silent omission would corrupt the
    result (non-parquet files, malformed equality deletes, equality ids
    naming dropped fields or fields inside lists/maps)."""


# ------------------------------------------------------------- metadata
def _strip_uri(p: str) -> str:
    return p[7:] if p.startswith("file://") else p


def _metadata_file(path: str) -> str:
    meta_dir = os.path.join(path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        cand = os.path.join(meta_dir, f"v{v}.metadata.json")
        if os.path.exists(cand):
            return cand
    metas = sorted(
        n for n in os.listdir(meta_dir) if n.endswith(".metadata.json")
    )
    if not metas:
        raise ValueError(f"no *.metadata.json under {meta_dir}")
    return os.path.join(meta_dir, metas[-1])


def load_table_metadata(path: str) -> dict:
    with open(_metadata_file(path), encoding="utf-8") as f:
        return json.load(f)


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
        return meta["schemas"][-1]
    return meta["schema"]  # format v1 single schema


def _to_spark_type(t) -> T.DataType:
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"],
                        _to_spark_type(f["type"]),
                        not f.get("required", False),
                    )
                    for f in t["fields"]
                ]
            )
        if kind == "list":
            return T.ArrayType(
                _to_spark_type(t["element"]),
                not t.get("element-required", False),
            )
        if kind == "map":
            return T.MapType(
                _to_spark_type(t["key"]),
                _to_spark_type(t["value"]),
                not t.get("value-required", False),
            )
        raise IcebergUnsupportedError(f"iceberg type {kind!r}")
    if t.startswith("decimal("):
        p, s = t[8:-1].split(",")
        return T.DecimalType(int(p), int(s))
    if t.startswith("fixed["):
        return T.BinaryType()
    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "time": T.LongType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "string": T.StringType(),
        "uuid": T.StringType(),
        "binary": T.BinaryType(),
    }
    if t not in prim:
        raise IcebergUnsupportedError(f"iceberg type {t!r}")
    return prim[t]


def schema_to_spark(meta: dict) -> T.StructType:
    s = _current_schema(meta)
    return _to_spark_type({"type": "struct", "fields": s["fields"]})


# ------------------------------------------------------------- snapshots
def _pick_snapshot(
    meta: dict, snapshot_id: int | None, as_of_ms: int | None,
    ref: str | None = None,
) -> dict:
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if not snaps:
        raise ValueError("iceberg table has no snapshots")
    if ref is not None:
        # named BRANCH/TAG heads from the metadata refs map (spec
        # §"Snapshot references"; "main" aliases current-snapshot-id).
        # ref is EXCLUSIVE with snapshot_id/as_of_ms: we only track the
        # main snapshot-log lineage, so silently resolving time travel
        # against main while the caller believes they pinned a branch
        # would hand back the wrong snapshot (r11 review fix)
        if snapshot_id is not None or as_of_ms is not None:
            raise ValueError(
                "ref cannot be combined with snapshot_id/as_of_ms: "
                "per-ref snapshot lineage is not tracked, so time "
                "travel would silently resolve against the main branch"
            )
        refs = meta.get("refs") or {}
        if ref in refs:
            snapshot_id = refs[ref]["snapshot-id"]
        elif ref == "main":
            snapshot_id = meta["current-snapshot-id"]
        else:
            raise ValueError(
                f"unknown iceberg ref {ref!r}; known: "
                f"{sorted(refs) + ['main']}"
            )
    if as_of_ms is not None:
        log = sorted(
            meta.get("snapshot-log", []), key=lambda e: e["timestamp-ms"]
        )
        best = None
        for e in log:
            if e["timestamp-ms"] <= as_of_ms:
                best = e["snapshot-id"]
        if best is None:
            raise ValueError(f"no iceberg snapshot at or before {as_of_ms}")
        snapshot_id = best
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    if snapshot_id not in snaps:
        raise ValueError(f"unknown snapshot-id {snapshot_id}")
    return snaps[snapshot_id]


def iceberg_history(path: str) -> list[dict]:
    meta = load_table_metadata(path)
    out = []
    for s in sorted(
        meta.get("snapshots", []),
        key=lambda x: x.get("timestamp-ms", 0),
        reverse=True,
    ):
        out.append(
            {
                "snapshot_id": s["snapshot-id"],
                "timestamp_ms": s.get("timestamp-ms"),
                "operation": (s.get("summary") or {}).get("operation"),
            }
        )
    return out


#: manifest count above which the per-manifest Avro decode moves off
#: the driver into an executor job.  Below it the driver loop is faster
#: (no job-scheduling overhead); above it a 100 TB table's 10^4-10^6
#: manifests decode in parallel and the driver only holds the SLIM
#: per-file tuples it needs anyway to build the scan list.
DIST_MANIFEST_THRESHOLD = 64


def _parse_manifest(
    manifest_path: str, format_version: int, manifest_seq: int = 0
) -> list[tuple[int, str, str, dict | None, dict | None, int, tuple]]:
    """Decode ONE manifest file to slim entry tuples
    ``(entry_idx, kind, file_path, partition, bounds, seq, eq_ids)`` —
    kind is ``data`` | ``posdel`` | ``eqdel`` | ``error`` (message in
    file_path; raised driver-side so executor tasks never fail the job
    on an unsupported table).  ``seq`` is the entry's DATA sequence
    number with the spec's inheritance rule (a null sequence number
    inherits the manifest-list entry's, spec §"Sequence Number
    Inheritance"); ``eq_ids`` is the equality-field-id tuple for
    eqdel entries.  Pure function of its arguments: safe to run in
    executors (avro_lite is dependency-free and picklable)."""
    with open(_strip_uri(manifest_path), "rb") as f:
        _, entries = read_avro_file(f.read())
    out: list[tuple[int, str, str, dict | None, dict | None, int, tuple]] = []
    for i, e in enumerate(entries):
        if e.get("status") == 2:  # DELETED entry: not part of state
            continue
        seq = e.get("sequence_number")
        seq = int(manifest_seq) if seq is None else int(seq)
        df = e["data_file"]
        content = int(df.get("content", 0)) if format_version >= 2 else 0
        fmt = str(df.get("file_format", "PARQUET")).upper()
        if fmt == "PUFFIN":
            # v3 DELETION VECTOR: a deletion-vector-v1 blob inside a
            # puffin file, addressed footer-free by the entry's
            # content_offset/content_size_in_bytes (field-ids 144/145)
            # and bound to ONE data file via referenced_data_file (143)
            ref = df.get("referenced_data_file")
            off = df.get("content_offset")
            size = df.get("content_size_in_bytes")
            if content != 1 or ref is None or off is None or size is None:
                out.append(
                    (i, "error",
                     "puffin manifest entry without content=1 + "
                     "referenced_data_file/content_offset/"
                     "content_size_in_bytes — not a spec deletion "
                     "vector",
                     None, None, seq, ())
                )
            else:
                out.append(
                    (i, "dvdel", _strip_uri(df["file_path"]),
                     None,
                     {"ref": _strip_uri(str(ref)), "off": int(off),
                      "len": int(size)},
                     seq, ())
                )
        elif fmt != "PARQUET":
            out.append(
                (i, "error",
                 f"data file format {fmt} (only parquet supported)",
                 None, None, seq, ())
            )
        elif content == 0:
            bounds = {
                k: df.get(k)
                for k in ("lower_bounds", "upper_bounds")
                if df.get(k)
            }
            out.append(
                (i, "data", _strip_uri(df["file_path"]),
                 df.get("partition") or {}, bounds, seq, ())
            )
        elif content == 1:
            out.append(
                (i, "posdel", _strip_uri(df["file_path"]),
                 None, None, seq, ())
            )
        else:
            eq_ids = tuple(int(x) for x in (df.get("equality_ids") or ()))
            if not eq_ids:
                out.append(
                    (i, "error",
                     "equality-delete file without equality_ids in its "
                     "manifest entry — malformed table",
                     None, None, seq, ())
                )
            else:
                out.append(
                    (i, "eqdel", _strip_uri(df["file_path"]),
                     None, None, seq, eq_ids)
                )
    return out


def _live_files(
    path: str, snap: dict, format_version: int, spark=None
) -> tuple[
    list[tuple[str, dict, dict, int]],
    list[str],
    list[tuple[str, int, tuple]],
    list[tuple[str, str, int, int]],
]:
    """(data files [(path, partition record, stats-bounds dict, seq)],
    POSITION-delete file paths,
    EQUALITY-delete files [(path, seq, equality-field-id tuple)],
    v3 DELETION VECTORS [(puffin path, referenced data file, offset,
    size)]) for the snapshot.  Position deletes target data files by exact path, so
    applying every live delete row is correct without sequence-number
    bookkeeping (a rewritten data file has a new path and old deletes
    simply match nothing).  Equality deletes DO need sequence numbers:
    a delete row applies only to data files whose data sequence number
    is STRICTLY LESS than the delete file's (spec §"Scan Planning") —
    both sides are returned with their seq so the read path can apply
    that ordering.

    With ``spark`` given and more than :data:`DIST_MANIFEST_THRESHOLD`
    manifests in the list, the per-manifest Avro decode runs as an
    EXECUTOR job (one task per ~8 manifests) instead of a serial
    driver loop — the driver reads only the manifest list and collects
    slim (path, partition, bounds) tuples, keeping its wall-clock and
    memory O(files), not O(manifest bytes)."""
    with open(_strip_uri(snap["manifest-list"]), "rb") as f:
        _, manifests = read_avro_file(f.read())
    files: list[tuple[str, dict, dict, int]] = []
    pos_deletes: list[str] = []
    eq_deletes: list[tuple[str, int, tuple]] = []
    dv_deletes: list[tuple[str, str, int, int]] = []
    mrows = [
        (m["manifest_path"], int(m.get("sequence_number") or 0))
        for m in manifests
    ]

    if spark is not None and len(mrows) > DIST_MANIFEST_THRESHOLD:
        fv = format_version
        indexed = [(mi, mp, ms) for mi, (mp, ms) in enumerate(mrows)]
        # chunky tasks: ~256 manifests each — task-launch + result
        # pickling overhead dominates below that (measured: 5k tiny
        # manifests parse at ~4k/s on the driver; the job only wins
        # when per-manifest work is real I/O + decode)
        n_tasks = max(1, min(len(indexed) // 256 + 1, 512))

        def parse_one(im):
            mi, mp, ms = im
            return [(mi, *t) for t in _parse_manifest(mp, fv, ms)]

        rows = (
            spark.sparkContext.parallelize(indexed, n_tasks)
            .flatMap(parse_one)
            .collect()
        )
        rows.sort(key=lambda r: (r[0], r[1]))  # manifest-list order
        slim = [r[2:] for r in rows]
    else:
        slim = [
            t[1:]
            for mp, ms in mrows
            for t in _parse_manifest(mp, format_version, ms)
        ]

    for kind, fp, pv, bounds, seq, eq_ids in slim:
        if kind == "error":
            raise IcebergUnsupportedError(fp)
        if kind == "data":
            files.append((fp, pv, bounds, seq))
        elif kind == "posdel":
            pos_deletes.append(fp)
        elif kind == "dvdel":
            dv_deletes.append((fp, bounds["ref"], bounds["off"],
                               bounds["len"]))
        else:
            eq_deletes.append((fp, seq, eq_ids))
    return files, pos_deletes, eq_deletes, dv_deletes


def _typed_partition_value(val, dtype):
    """Convert a raw Avro identity-partition value to the LOGICAL Python
    value for the Spark column type.  Iceberg manifests store partition
    values in their physical Avro form (spec, Appendix A: date = int
    epoch-days, timestamp/timestamptz = long epoch-micros, decimal =
    big-endian unscaled bytes) — stringify-then-cast turns those into
    NULL for every row, so the conversion must be type-driven."""
    import datetime as _dt
    import decimal as _dec

    if val is None:
        return None
    if isinstance(dtype, T.DateType):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(val))
    if isinstance(dtype, T.TimestampType):
        return _dt.datetime(
            1970, 1, 1, tzinfo=_dt.timezone.utc
        ) + _dt.timedelta(microseconds=int(val))
    if isinstance(dtype, getattr(T, "TimestampNTZType", ())):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=int(val)
        )
    if isinstance(dtype, T.DecimalType):
        if isinstance(val, (bytes, bytearray)):
            unscaled = int.from_bytes(bytes(val), "big", signed=True)
            return _dec.Decimal(unscaled).scaleb(-dtype.scale)
        return _dec.Decimal(str(val))
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(val)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(val)
    if isinstance(dtype, T.BooleanType):
        return bool(val)
    if isinstance(dtype, T.StringType):
        return str(val)
    if isinstance(dtype, T.BinaryType):
        return bytes(val)
    raise IcebergUnsupportedError(
        f"identity partition of Spark type {dtype} unsupported"
    )


def _identity_partition_names(meta: dict) -> list[str]:
    """Schema column names of IDENTITY-transform partition fields of the
    default spec — the columns whose values readers take from manifest
    metadata constants (Iceberg's behavior; it is what makes migrated
    hive-layout files, which lack the column, read correctly).
    Non-identity transforms (bucket/day/truncate) derive, not mirror,
    a source column, so their values stay in the data files."""
    specs = meta.get("partition-specs") or []
    spec_id = meta.get("default-spec-id", 0)
    spec = next((s for s in specs if s.get("spec-id") == spec_id), None)
    if spec is None:
        return []
    by_id = {f["id"]: f["name"] for f in _current_schema(meta)["fields"]}
    return [
        by_id[f["source-id"]]
        for f in spec.get("fields", [])
        if f.get("transform") == "identity" and f.get("source-id") in by_id
    ]


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    partitions: dict[str, list] | None = None,
    where: list[tuple] | None = None,
    ref: str | None = None,
) -> DataFrame:
    """The iceberg table at a snapshot (default: current) as a
    DataFrame: pinned-schema parquet scans over the snapshot's live
    data files — metadata JSON + two Avro hops on the driver, zero
    executor-side metadata work.

    Identity-partition columns are attached from the manifests'
    partition metadata (grouped: one scan per partition tuple) — the
    Iceberg reader contract, and what makes migrated hive-layout files
    that LACK the column read correctly."""
    from pyspark.sql import functions as F

    meta = load_table_metadata(path)
    fv = int(meta.get("format-version", 1))
    snap = _pick_snapshot(meta, snapshot_id, as_of_ms, ref=ref)
    schema = schema_to_spark(meta)
    files, delete_files, eq_delete_files, dv_deletes = _live_files(
        path, snap, fv, spark=spark
    )
    id_parts = _identity_partition_names(meta)
    if partitions:
        # driver-side manifest pruning: whole files skipped before any
        # listing (identity partition values live in the manifests)
        bad = [c for c in partitions if c not in id_parts]
        if bad:
            raise ValueError(f"not identity partition columns: {bad}")
        wanted = {c: {str(v) for v in vs} for c, vs in partitions.items()}
        ptypes = {f.name: f.dataType for f in schema.fields}
        files = [
            (p, pv, e, sq)
            for p, pv, e, sq in files
            if all(
                # a file written under an OLDER spec that lacks the
                # field can hold any value — it must survive pruning
                # (superset guarantee; the caller re-filters rows)
                c not in pv
                or (
                    None
                    if pv.get(c) is None
                    else str(_typed_partition_value(pv.get(c), ptypes[c]))
                )
                in vals
                for c, vals in wanted.items()
            )
        ]
    if where:
        # per-file skipping on manifest lower/upper bounds (superset
        # guarantee: re-apply the predicates to the returned frame)
        field_ids = {
            f["name"]: (f["id"], f["type"])
            for f in _current_schema(meta)["fields"]
            if isinstance(f["type"], str)
        }
        files = [
            (p, pv, e, sq)
            for p, pv, e, sq in files
            if _file_survives(e, where, field_ids)
        ]
    if not files:
        return spark.createDataFrame([], schema)
    with_pos = bool(delete_files) or bool(dv_deletes)
    with_eq = bool(eq_delete_files)
    track_fp = with_pos or with_eq

    def scan(data_schema, paths):
        df = spark.read.schema(data_schema).parquet(*sorted(paths))
        if track_fp:
            df = df.withColumn(
                "__ice_fp",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
            )
        if with_pos:
            df = df.withColumn("__ice_ri", F.col("_metadata.row_index"))
        return df

    extra = (["__ice_fp"] if track_fp else []) + (
        ["__ice_ri"] if with_pos else []
    )
    if not id_parts:
        out = scan(schema, [p for p, _, _, _ in files])
        cols = [f.name for f in schema.fields]
    else:
        types = {f.name: f.dataType for f in schema.fields}
        # PARTITION EVOLUTION (r11): each manifest's partition record
        # follows the spec the manifest was written under, so a file
        # from an OLDER spec may lack some of the default spec's
        # identity fields entirely.  Constants are attached only for
        # the identity columns a file's own manifest record carries;
        # the rest are read from the data file itself (pinned-schema
        # scan — a file genuinely lacking the column reads as NULL,
        # the Iceberg contract for pre-evolution data).  A field
        # PRESENT in the record with a null value still attaches the
        # NULL constant (hive-migration behavior, unchanged).
        groups: dict[tuple, list[str]] = {}
        for p, pv, _e, _sq in files:
            names = tuple(c for c in id_parts if c in pv)
            # typed conversion BEFORE grouping: raw Avro physical values
            # (epoch-days ints, unscaled decimal bytes) become logical
            # Python values, so both the group key and the attached
            # literal are exact
            key = (
                names,
                tuple(
                    _typed_partition_value(pv[c], types[c]) for c in names
                ),
            )
            groups.setdefault(key, []).append(p)
        parts = []
        for (names, vals), paths in sorted(
            groups.items(), key=lambda kv: str(kv[0])
        ):
            data_schema = T.StructType(
                [f for f in schema.fields if f.name not in names]
            )
            df = scan(data_schema, paths)
            for c, val in zip(names, vals):
                df = df.withColumn(c, F.lit(val).cast(types[c]))
            parts.append(
                df.select(*[f.name for f in schema.fields], *extra)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        cols = [f.name for f in schema.fields]
    if with_pos:
        # v2 position deletes + v3 deletion vectors: one (file_path,
        # pos) anti-join — Spark's _metadata.row_index supplies the row
        # position natively, so the merge-on-read stays one shuffle-free
        # broadcast anti-join for typical delete volumes
        dels = None
        if delete_files:
            dels = (
                spark.read.schema("file_path string, pos long")
                .parquet(*sorted(delete_files))
                .select(
                    F.regexp_replace(
                        "file_path", "^file:/+", "/"
                    ).alias("__ice_fp"),
                    F.col("pos").alias("__ice_ri"),
                )
            )
        if dv_deletes:
            # blob decode runs INSIDE executor tasks (puffin.py is
            # picklable pure Python); the driver ships only
            # (path, referenced file, offset, size) descriptors
            import re as _re

            from .puffin import read_dv_blob_from_file

            descs = sorted(dv_deletes)

            def expand(d):
                fp = _re.sub(r"^file:/+", "/", d[1])
                return [
                    (fp, p) for p in read_dv_blob_from_file(d[0], d[2], d[3])
                ]

            n_tasks = max(1, min(len(descs) // 8 + 1, 64))
            dv_rows = (
                spark.sparkContext.parallelize(descs, n_tasks)
                .flatMap(expand)
            )
            dv_frame = spark.createDataFrame(
                dv_rows, "__ice_fp string, __ice_ri long"
            )
            dels = dv_frame if dels is None else dels.unionByName(dv_frame)
        out = out.join(
            F.broadcast(dels), ["__ice_fp", "__ice_ri"], "left_anti"
        )
    if with_eq:
        out = _apply_equality_deletes(
            spark, out, meta, schema, files, eq_delete_files
        )
    if partitions:
        # exact-result guarantee under partition evolution: files from
        # older specs survive manifest pruning (they carry no constant
        # for the column), so re-apply the partition predicate at row
        # level for any column some surviving file lacked
        unprunable = [
            c
            for c in partitions
            if any(c not in pv for _p, pv, _e, _sq in files)
        ]
        for c in unprunable:
            # isin() never matches NULL (SQL ternary logic); a None in
            # the caller's value list means "null partition value", which
            # the manifest-pruning path already treats as a match — keep
            # the row-level re-filter consistent with it.
            vals = list(partitions[c])
            non_null = [v for v in vals if v is not None]
            cond = F.col(c).isin(non_null) if non_null else F.lit(False)
            if any(v is None for v in vals):
                cond = cond | F.col(c).isNull()
            out = out.where(cond)
    return out.select(*cols)


def _apply_equality_deletes(spark, out, meta, schema, files, eq_deletes):
    """Apply v2 EQUALITY delete files: a delete row kills every data row
    whose equality columns match it null-safely AND whose data file's
    sequence number is STRICTLY LESS than the delete file's (spec
    §"Scan Planning" — rows written in the same or a later commit than
    the delete are kept, which is what makes the upsert pattern
    'delete by key + re-insert in one commit' read correctly).

    Plan shape: the per-file sequence number joins in via a broadcast
    (file_path → seq) map — O(live files) driver state, a few MB at
    10^5 files; each distinct equality-id set becomes ONE broadcast
    left_anti join with the extra seq inequality in the condition.
    Delete frames are bulk parquet scans (not per-file reads) with
    their own (path → seq) broadcast map, so the whole merge-on-read
    stays shuffle-free for typical delete volumes."""
    from pyspark.sql import functions as F

    by_id = _eq_id_paths(meta)
    seq_map = spark.createDataFrame(
        [(p, sq) for p, _pv, _e, sq in files], "__ice_fp string, __ice_seq long"
    )
    out = out.join(F.broadcast(seq_map), "__ice_fp", "left")

    by_ids: dict[tuple, list[tuple[str, int]]] = {}
    for p, sq, eq_ids in eq_deletes:
        by_ids.setdefault(eq_ids, []).append((p, sq))
    for eq_ids, dfiles in sorted(by_ids.items()):
        missing = [i for i in eq_ids if i not in by_id]
        if missing:
            raise IcebergUnsupportedError(
                f"equality delete on field ids {missing} — not primitive "
                "columns of the current schema reachable through structs "
                "(fields inside lists/maps are not equality-delete-"
                "eligible per the spec, and dropped/renamed-away ids "
                "cannot be resolved)"
            )
        eq_paths = [by_id[i] for i in eq_ids]
        # delete files store the equality columns under their full
        # nested structure; read with the minimal nested schema and
        # flatten the leaves for the join
        del_schema = _paths_schema(schema, eq_paths)
        flat = {p: "__eqd_" + p.replace(".", "_") for p in eq_paths}
        dseq = spark.createDataFrame(
            dfiles, "__eqd_fp string, __eqd_seq long"
        )
        dels = (
            spark.read.schema(del_schema)
            .parquet(*sorted({p for p, _ in dfiles}))
            .withColumn(
                "__eqd_fp",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
            )
            .join(F.broadcast(dseq), "__eqd_fp")
            .select(
                *[F.col(p).alias(a) for p, a in flat.items()], "__eqd_seq"
            )
        )
        cond = F.col("__eqd_seq") > F.col("__ice_seq")
        for p, a in flat.items():
            cond = cond & F.col(p).eqNullSafe(F.col(a))
        out = out.join(F.broadcast(dels), cond, "left_anti")
    return out


def _eq_id_paths(meta) -> dict[int, str]:
    """field id → dotted column path for every equality-delete-ELIGIBLE
    field of the current schema: primitive columns at top level or
    nested inside STRUCTS (the spec's eligibility rule — fields inside
    lists/maps cannot carry equality deletes, so their subtrees are
    deliberately not walked and their ids resolve to a loud refusal)."""
    out: dict[int, str] = {}

    def walk(fields, prefix):
        for f in fields:
            t = f["type"]
            path = prefix + f["name"]
            if isinstance(t, str):
                out[f["id"]] = path
            elif isinstance(t, dict) and t.get("type") == "struct":
                walk(t["fields"], path + ".")

    walk(_current_schema(meta)["fields"], "")
    return out


def _paths_schema(schema: T.StructType, paths: list[str]) -> T.StructType:
    """Minimal nested Spark read schema containing exactly the given
    dotted leaf paths (types from the table schema) — what an equality
    delete file stores for nested equality ids."""
    tree: dict = {}
    for p in paths:
        node = tree
        for seg in p.split("."):
            node = node.setdefault(seg, {})

    def build(node: dict, stype: T.StructType) -> T.StructType:
        fields = []
        for name, child in node.items():
            f = stype[name]
            fields.append(
                T.StructField(
                    name,
                    build(child, f.dataType) if child else f.dataType,
                )
            )
        return T.StructType(fields)

    return build(tree, schema)


# ---------------------------------------------------------------- export
# Avro "field-id" attributes are the spec's FIXED ids for manifest
# fields (Iceberg spec, Appendix C) — external Iceberg readers resolve
# manifest avro by id, not name; extra attributes are transparent to
# the in-repo codec
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {
                        "name": "lower_bounds",
                        "field-id": 125,
                        "type": {"type": "map", "values": ["null", "bytes"]},
                    },
                    {
                        "name": "upper_bounds",
                        "field-id": 128,
                        "type": {"type": "map", "values": ["null", "bytes"]},
                    },
                    # "partition" is appended per-table by
                    # _entry_schema_for (typed r102 record over the
                    # partition columns)
                ],
            },
        },
    ],
}


def _entry_schema_for(part_cols: list[str]) -> dict:
    """Manifest-entry avro schema with the spec's typed r102 partition
    record over this table's partition columns (field-ids 1000+i; values
    union[null,string] — the snapshot layer's partition values are the
    hive path strings)."""
    import copy

    schema = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    schema["fields"][1]["type"]["fields"].append(
        {
            "name": "partition",
            "field-id": 102,
            "type": {
                "type": "record",
                "name": "r102",
                "fields": [
                    {
                        "name": c,
                        "type": ["null", "string"],
                        "field-id": 1000 + i,
                    }
                    for i, c in enumerate(part_cols)
                ],
            },
        }
    )
    return schema

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
    ],
}


def _spark_to_iceberg_type(dt, next_id) -> object:
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "id": next_id(),
                    "name": f.name,
                    "required": False,
                    "type": _spark_to_iceberg_type(f.dataType, next_id),
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": next_id(),
            "element": _spark_to_iceberg_type(dt.elementType, next_id),
            "element-required": False,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "key-id": next_id(),
            "key": _spark_to_iceberg_type(dt.keyType, next_id),
            "value-id": next_id(),
            "value": _spark_to_iceberg_type(dt.valueType, next_id),
            "value-required": False,
        }
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    m = {
        "boolean": "boolean", "integer": "int", "long": "long",
        "float": "float", "double": "double", "date": "date",
        "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
        "string": "string", "binary": "binary",
        "short": "int", "byte": "int",
    }
    name = dt.typeName()
    if name not in m:
        raise IcebergUnsupportedError(f"cannot map spark type {name} to iceberg")
    return m[name]


def _name_mapping(fields: list[dict]) -> list[dict]:
    out = []
    for f in fields:
        entry = {"field-id": f["id"], "names": [f["name"]]}
        t = f["type"]
        if isinstance(t, dict) and t.get("type") == "struct":
            entry["fields"] = _name_mapping(t["fields"])
        out.append(entry)
    return out


def export_snapshot_to_iceberg(table, dv_format: str = "parquet") -> dict:
    """Expose a snapshot table's CURRENT version as an Iceberg v2 table:
    metadata JSON + Avro manifest/manifest-list written from the
    manifest state — ZERO data copied (data files referenced in place,
    absolute paths, which Iceberg allows).  Because the snapshot's
    parquet files carry no Iceberg field IDs, the metadata includes a
    ``schema.name-mapping.default`` property — the spec's mechanism for
    exactly this migration case.

    Compatibility scope, stated honestly: the export is verified
    end-to-end against THIS module's replay path (and the randomized
    snapshot model test) — the container has no third-party Iceberg
    reader to verify against.  The manifest avro schemas carry the
    spec's fixed field-id attributes, the partition record is the typed
    r102 struct with spec field-ids via ``_entry_schema_for``, and
    manifest-list entries carry sequence_number/min_sequence_number
    (the snapshot's — every listed entry was added by it, and entries
    inherit per the spec), so v2 sequence ordering is well-defined for
    strict external readers too.

    Each export appends ONE new snapshot whose single manifest lists the
    full live file set (existing Iceberg readers handle full manifests
    fine; incremental manifest reuse is the growth path).  Live
    DELETION VECTORS export as v2 POSITION DELETE files: zero-copy on
    an unpartitioned table (the snapshot's DV parquets already carry
    the spec's (file_path, pos) delete schema; a content=1 manifest
    references them in place), REWRITTEN per partition on a partitioned
    table (the spec binds each position-delete file to one partition
    tuple, so DV rows re-bucket by the target file's partition-path
    segments — executor-side, O(deleted rows), sorted by
    (file_path, pos) within each file).

    ``dv_format="puffin"`` exports the DVs as FORMAT VERSION 3
    deletion vectors instead: one merged deletion-vector-v1 blob per
    referenced data file inside a single Puffin file (sources/puffin),
    tracked by content=1 PUFFIN manifest entries with field-ids
    143/144/145 and the referenced file's partition record; the
    metadata stamps format-version 3.  Blob assembly collects the
    per-file position lists to the driver (O(deleted rows) driver
    memory, refused above ~50M positions — use the default v2 parquet
    deletes beyond that).  Returns {"snapshot_id", "files",
    "dv_files", "metadata_file"}."""
    if dv_format not in ("parquet", "puffin"):
        raise ValueError(
            f"dv_format must be 'parquet' or 'puffin', got {dv_format!r}"
        )
    import time as _time

    from .avro_lite import write_avro_file

    root = table.root
    snap_v = table.latest_version()
    if not snap_v:
        raise ValueError(f"no committed versions at {root}")
    m = table.manifest(snap_v)
    dvs = m.get("dvs") or []
    ext = m.get("external") or {}

    import json as _json

    from pyspark.sql.types import StructType

    spark_schema = StructType.fromJson(_json.loads(m["schema"]))
    counter = {"n": 0}

    def next_id() -> int:
        counter["n"] += 1
        return counter["n"]

    ice_struct = _spark_to_iceberg_type(spark_schema, next_id)
    ice_schema = {"schema-id": 0, "type": "struct",
                  "fields": ice_struct["fields"]}

    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    snapshot_id = snap_v  # monotone with snapshot-table versions
    ts = int(_time.time() * 1000)

    # accurate per-file record counts (Iceberg engines trust them for
    # count pushdown — a wrong count would corrupt COUNT(*) downstream):
    # one driver-side footer read per file, the cost every metadata
    # export pays exactly once per file
    import pyarrow.parquet as _pq

    part_cols = m["partition_cols"]
    stats = m.get("stats") or {}
    ice_types = {
        f["name"]: f["type"]
        for f in ice_schema["fields"]
        if isinstance(f["type"], str)
    }
    ids_by_name = {f["name"]: f["id"] for f in ice_schema["fields"]}
    # unescape Spark's escapePathName encoding (space, ':', '%', …) so
    # exported partition records carry the logical value (data files
    # below and rewritten position-delete files further down)
    from urllib.parse import unquote as _unquote

    entries = []
    n_files = 0
    for d in sorted(m["live"]):
        base = ext.get(d)
        abs_dir = f"{base}/{d}" if base else f"{table.data_dir}/{d}"
        segs = {
            k: _unquote(v)
            for k, v in (
                s.split("=", 1) for s in d.split("/")[1:] if "=" in s
            )
        }
        pv = {c: segs.get(c) for c in part_cols}
        for name, size in table.fs.list_files(abs_dir):
            if not name.endswith(".parquet"):
                continue
            n_files += 1
            fpath = f"{abs_dir}/{name}"
            lowers: dict[str, bytes] = {}
            uppers: dict[str, bytes] = {}
            for col, rng in (stats.get(d) or {}).items():
                t = ice_types.get(col)
                if t is None or rng[0] is None or rng[1] is None:
                    continue
                lo = _encode_bound(t, rng[0])
                hi = _encode_bound(t, rng[1])
                if lo is not None and hi is not None:
                    lowers[str(ids_by_name[col])] = lo
                    uppers[str(ids_by_name[col])] = hi
            entries.append(
                {
                    "status": 1,
                    "data_file": {
                        "content": 0,
                        "file_path": fpath,
                        "file_format": "PARQUET",
                        "record_count": int(
                            _pq.ParquetFile(fpath).metadata.num_rows
                        ),
                        "file_size_in_bytes": size,
                        "lower_bounds": lowers,
                        "upper_bounds": uppers,
                        "partition": pv,
                    },
                }
            )
    manifest_path = os.path.join(meta_dir, f"manifest-{snapshot_id}.avro")
    with open(manifest_path, "wb") as f:
        f.write(
            write_avro_file(_entry_schema_for(part_cols), entries, "deflate")
        )
    manifests = [(manifest_path, 0)]

    # live deletion vectors export as Iceberg v2 POSITION DELETE files.
    # UNPARTITIONED tables go ZERO-COPY: the snapshot's DV parquets
    # already carry the spec's (file_path, pos) delete-file schema, so a
    # content=1 manifest just references them in place.  PARTITIONED
    # tables REWRITE: a DV parquet spans partitions, but the spec binds
    # each position-delete file to ONE partition tuple (strict readers
    # match delete files to data files by partition), so the rows are
    # re-bucketed by the target file's partition-path segments — one
    # Spark job over O(deleted rows), executor-side, each output file
    # pure in one partition and sorted by (file_path, pos) as the spec
    # asks of writers.  Position deletes apply to data files with
    # sequence <= the delete's (equal allowed), so listing both in the
    # same exported snapshot is spec-correct.
    n_dv_files = 0
    used_v3_dvs = False
    if dvs:
        del_entries = []
        dv_dirs = []
        for d in sorted({dv["dir"] for dv in dvs}):
            base2 = ext.get(d)
            dv_dirs.append(f"{base2}/{d}" if base2 else f"{table.data_dir}/{d}")
        if dv_format == "puffin":
            from pyspark.sql import functions as F

            from .puffin import encode_dv_blob, write_puffin

            used_v3_dvs = True
            grouped = (
                table.spark.read.schema("file_path string, pos long")
                .parquet(*dv_dirs)
                .groupBy("file_path")
                .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
                .collect()
            )
            total = sum(len(r.positions) for r in grouped)
            if total > 50_000_000:
                raise ValueError(
                    f"{total} deleted positions is past the puffin "
                    "export's driver-memory bound (~50M) — export with "
                    "the default dv_format='parquet' (executor-side "
                    "rewrite) instead"
                )
            seg_re = re.compile(r"/commit=[^/]+/(.+)/[^/]*$")
            blobs = []
            ref_parts: list[dict] = []
            for r in sorted(grouped, key=lambda r: r.file_path):
                if part_cols:
                    m2 = seg_re.search(r.file_path)
                    segs2 = {
                        k: _unquote(v)
                        for k, v in (
                            s.split("=", 1)
                            for s in (m2.group(1) if m2 else "").split("/")
                            if "=" in s
                        )
                    }
                    if sorted(segs2) != sorted(part_cols):
                        raise ValueError(
                            "puffin DV export could not derive the "
                            f"partition tuple from {r.file_path!r} "
                            f"(expected columns {part_cols})"
                        )
                    ref_parts.append({c: segs2[c] for c in part_cols})
                else:
                    ref_parts.append({})
                blobs.append(
                    (
                        "deletion-vector-v1",
                        encode_dv_blob(list(r.positions)),
                        {
                            "referenced-data-file": r.file_path,
                            "cardinality": str(len(r.positions)),
                        },
                    )
                )
            puffin_bytes, blob_metas = write_puffin(
                blobs, snapshot_id=snapshot_id, sequence_number=snapshot_id
            )
            del_dir = f"{root}/deletes"
            os.makedirs(del_dir, exist_ok=True)
            puf = f"{del_dir}/snap-{snapshot_id}.puffin"
            with open(puf, "wb") as f:
                f.write(puffin_bytes)
            for r, bm, pv2 in zip(
                sorted(grouped, key=lambda r: r.file_path),
                blob_metas,
                ref_parts,
            ):
                n_dv_files += 1
                del_entries.append(
                    {
                        "status": 1,
                        "data_file": {
                            "content": 1,
                            "file_path": puf,
                            "file_format": "PUFFIN",
                            "record_count": len(r.positions),
                            "file_size_in_bytes": bm["length"],
                            "lower_bounds": {},
                            "upper_bounds": {},
                            "partition": pv2,
                            "referenced_data_file": r.file_path,
                            "content_offset": bm["offset"],
                            "content_size_in_bytes": bm["length"],
                        },
                    }
                )
            import copy as _copy

            del_schema = _copy.deepcopy(_entry_schema_for(part_cols))
            del_schema["fields"][1]["type"]["fields"] += [
                {"name": "referenced_data_file",
                 "type": ["null", "string"], "field-id": 143},
                {"name": "content_offset", "type": ["null", "long"],
                 "field-id": 144},
                {"name": "content_size_in_bytes",
                 "type": ["null", "long"], "field-id": 145},
            ]
        elif part_cols:
            from pyspark.sql import functions as F

            # the partition-path segment chain between the commit dir
            # and the filename, kept in its ESCAPED on-disk form so the
            # round trip through partitionBy's escaping is lossless
            seg_re = r"/commit=[^/]+/(.+)/[^/]*$"
            df = (
                table.spark.read.schema("file_path string, pos long")
                .parquet(*dv_dirs)
                .withColumn(
                    "__pdir", F.regexp_extract("file_path", seg_re, 1)
                )
            )
            out_dir = f"{root}/deletes/snap-{snapshot_id}"
            (
                df.repartition("__pdir")
                .sortWithinPartitions("__pdir", "file_path", "pos")
                .write.mode("overwrite")
                .partitionBy("__pdir")
                .parquet(out_dir)
            )
            for pdir_name in sorted(table.fs.list_names(out_dir)):
                if not pdir_name.startswith("__pdir="):
                    continue
                raw_segs = _unquote(pdir_name[len("__pdir=") :])
                segs2 = {
                    k: _unquote(v)
                    for k, v in (
                        s.split("=", 1)
                        for s in raw_segs.split("/")
                        if "=" in s
                    )
                }
                if sorted(segs2) != sorted(part_cols):
                    raise ValueError(
                        "deletion-vector rewrite could not derive the "
                        f"partition tuple from {raw_segs!r} (expected "
                        f"columns {part_cols}) — a DV target file path "
                        "does not carry the table's partition segments"
                    )
                pv2 = {c: segs2[c] for c in part_cols}
                pdir_path = f"{out_dir}/{pdir_name}"
                for name, size in table.fs.list_files(pdir_path):
                    if not name.endswith(".parquet"):
                        continue
                    fpath = f"{pdir_path}/{name}"
                    n_dv_files += 1
                    del_entries.append(
                        {
                            "status": 1,
                            "data_file": {
                                "content": 1,
                                "file_path": fpath,
                                "file_format": "PARQUET",
                                "record_count": int(
                                    _pq.ParquetFile(fpath).metadata.num_rows
                                ),
                                "file_size_in_bytes": size,
                                "lower_bounds": {},
                                "upper_bounds": {},
                                "partition": pv2,
                            },
                        }
                    )
            del_schema = _entry_schema_for(part_cols)
        else:
            for abs_dir in dv_dirs:
                for name, size in table.fs.list_files(abs_dir):
                    if not name.endswith(".parquet"):
                        continue
                    fpath = f"{abs_dir}/{name}"
                    n_dv_files += 1
                    del_entries.append(
                        {
                            "status": 1,
                            "data_file": {
                                "content": 1,
                                "file_path": fpath,
                                "file_format": "PARQUET",
                                "record_count": int(
                                    _pq.ParquetFile(fpath).metadata.num_rows
                                ),
                                "file_size_in_bytes": size,
                                "lower_bounds": {},
                                "upper_bounds": {},
                                "partition": {},
                            },
                        }
                    )
            del_schema = _entry_schema_for([])
        del_manifest = os.path.join(
            meta_dir, f"manifest-del-{snapshot_id}.avro"
        )
        with open(del_manifest, "wb") as f:
            f.write(write_avro_file(del_schema, del_entries, "deflate"))
        manifests.append((del_manifest, 1))

    mlist_path = os.path.join(meta_dir, f"snap-{snapshot_id}.avro")
    with open(mlist_path, "wb") as f:
        f.write(
            write_avro_file(
                _MANIFEST_FILE_SCHEMA,
                [
                    {
                        "manifest_path": mp,
                        "manifest_length": os.path.getsize(mp),
                        "partition_spec_id": 0,
                        "content": content,
                        # every entry in an exported manifest was added
                        # by this snapshot: its data sequence number is
                        # the snapshot's (entries inherit it, spec
                        # §Sequence Number Inheritance)
                        "sequence_number": snapshot_id,
                        "min_sequence_number": snapshot_id,
                        "added_snapshot_id": snapshot_id,
                    }
                    for mp, content in manifests
                ],
            )
        )

    # carry forward earlier exported snapshots (re-export = new snapshot)
    prior_snaps: list[dict] = []
    prior_log: list[dict] = []
    prior_fv = 2
    try:
        prev = load_table_metadata(root)
        # format-version is sticky: once a puffin-DV export stamped v3,
        # later exports must not downgrade snapshots readers can still
        # time-travel to
        prior_fv = int(prev.get("format-version", 2))
        prior_snaps = [
            s for s in prev.get("snapshots", [])
            if s["snapshot-id"] != snapshot_id
        ]
        prior_log = [
            e for e in prev.get("snapshot-log", [])
            if e["snapshot-id"] != snapshot_id
        ]
        version_n = int(
            os.path.basename(_metadata_file(root)).split(".")[0][1:]
        ) + 1
    except (ValueError, FileNotFoundError, OSError):
        version_n = 1
    meta = {
        "format-version": max(prior_fv, 3 if used_v3_dvs else 2),
        "table-uuid": f"snapshot-{os.path.basename(root)}",
        "location": root,
        "last-updated-ms": ts,
        "schemas": [ice_schema],
        "current-schema-id": 0,
        # identity spec over the snapshot's partition columns: readers
        # (ours and real engines) fill these columns from the manifest
        # partition records, which is exactly right for hive-layout
        # files that do not carry the column
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": c,
                        "transform": "identity",
                        "source-id": next(
                            f["id"]
                            for f in ice_schema["fields"]
                            if f["name"] == c
                        ),
                        "field-id": 1000 + i,
                    }
                    for i, c in enumerate(part_cols)
                ],
            }
        ],
        "default-spec-id": 0,
        "properties": {
            "schema.name-mapping.default": _json.dumps(
                _name_mapping(ice_schema["fields"])
            )
        },
        "last-sequence-number": snapshot_id,
        "snapshots": prior_snaps
        + [
            {
                "snapshot-id": snapshot_id,
                "sequence-number": snapshot_id,
                "timestamp-ms": ts,
                "manifest-list": mlist_path,
                "summary": {"operation": "append"},
            }
        ],
        "current-snapshot-id": snapshot_id,
        "snapshot-log": prior_log
        + [{"timestamp-ms": ts, "snapshot-id": snapshot_id}],
    }
    meta_file = os.path.join(meta_dir, f"v{version_n}.metadata.json")
    with open(meta_file, "w", encoding="utf-8") as f:
        _json.dump(meta, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version_n))
    return {
        "snapshot_id": snapshot_id,
        "files": n_files,
        "dv_files": n_dv_files,
        "metadata_file": meta_file,
    }


# -------------------------------------------------- bounds (file skipping)
def _encode_bound(ice_type: str, v) -> bytes | None:
    """Iceberg single-value binary serialization for the bound types the
    export records: int/long little-endian, float/double IEEE LE,
    string UTF-8.  Anything else returns None (no bound written —
    conservative)."""
    import struct as _struct

    try:
        if ice_type == "int":
            return _struct.pack("<i", int(v))
        if ice_type == "long":
            return _struct.pack("<q", int(v))
        if ice_type == "float":
            return _struct.pack("<f", float(v))
        if ice_type == "double":
            return _struct.pack("<d", float(v))
        if ice_type == "string":
            return str(v).encode("utf-8")
    except (ValueError, OverflowError, _struct.error):
        return None
    return None


def _decode_bound(ice_type: str, b: bytes):
    import struct as _struct

    if b is None:
        return None
    if ice_type == "int":
        return _struct.unpack("<i", bytes(b))[0]
    if ice_type == "long":
        return _struct.unpack("<q", bytes(b))[0]
    if ice_type == "float":
        return _struct.unpack("<f", bytes(b))[0]
    if ice_type == "double":
        return _struct.unpack("<d", bytes(b))[0]
    if ice_type == "string":
        return bytes(b).decode("utf-8", "replace")
    return None


def _file_survives(
    df_entry: dict, where: list[tuple], field_ids: dict[str, tuple[int, str]]
) -> bool:
    """Conservative per-file skipping on lower_bounds/upper_bounds
    (field-id keyed): drop only when the range PROVABLY excludes the
    predicate — the snapshot layer's rule (:func:`bounds_exclude`), so
    missing, undecodable or NaN bounds keep the file."""
    lowers = df_entry.get("lower_bounds") or {}
    uppers = df_entry.get("upper_bounds") or {}
    for col, op, val in where:
        if col not in field_ids:
            continue
        fid, ice_type = field_ids[col]
        lo = _decode_bound(ice_type, lowers.get(str(fid)))
        hi = _decode_bound(ice_type, uppers.get(str(fid)))
        if bounds_exclude(lo, hi, op, val):
            return False
    return True


# ------------------------------------------------------- incremental
def read_iceberg_incremental(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Iceberg INCREMENTAL APPEND scan: the rows in data files added by
    snapshots AFTER ``from_snapshot_id`` up to ``to_snapshot_id``
    (inclusive; default current) — Iceberg's own incremental-read
    contract, completing the incremental-consumption matrix next to the
    snapshot layer's ``changes()``, ``delta_changes`` and
    ``read_hudi_incremental``.

    Exactly the engine's semantics: ``append`` snapshots contribute the
    entries their own manifests ADDED (status=1 in manifests with
    ``added_snapshot_id`` = that snapshot — never re-emitting EXISTING
    entries), ``replace`` snapshots (compactions) are skipped (they
    move rows, not add them), and any other operation in the range
    refuses loudly — an overwrite/delete cannot be represented as
    appended rows.

    Scale: the walk is metadata-only (manifest-list + added manifests
    per snapshot in range); rows flow through one grouped parquet scan
    with identity-partition constants attached, same as
    :func:`read_iceberg`."""
    from pyspark.sql import functions as F

    meta = load_table_metadata(path)
    snaps = sorted(
        meta.get("snapshots", []), key=lambda s: s.get("timestamp-ms", 0)
    )
    ids = [s["snapshot-id"] for s in snaps]
    if from_snapshot_id not in ids:
        raise ValueError(f"unknown from snapshot-id {from_snapshot_id}")
    start = ids.index(from_snapshot_id)
    if to_snapshot_id is None:
        end = len(ids) - 1
    elif to_snapshot_id in ids:
        end = ids.index(to_snapshot_id)
    else:
        raise ValueError(f"unknown to snapshot-id {to_snapshot_id}")
    schema = schema_to_spark(meta)
    id_parts = _identity_partition_names(meta)
    fv = int(meta.get("format-version", 1))

    added: list[tuple[str, dict]] = []
    for s in snaps[start + 1 : end + 1]:
        op = (s.get("summary") or {}).get("operation")
        if op == "replace":
            continue
        if op != "append":
            raise IcebergUnsupportedError(
                f"snapshot {s['snapshot-id']} in the incremental range "
                f"is {op!r}: only append (and skippable replace) "
                "snapshots can be read incrementally"
            )
        with open(_strip_uri(s["manifest-list"]), "rb") as f:
            _, manifests = read_avro_file(f.read())
        for mrow in manifests:
            if int(mrow.get("added_snapshot_id") or -1) != s["snapshot-id"]:
                continue
            with open(_strip_uri(mrow["manifest_path"]), "rb") as f:
                _, entries = read_avro_file(f.read())
            for e in entries:
                if e.get("status") != 1:
                    continue
                df_ = e["data_file"]
                content = int(df_.get("content", 0)) if fv >= 2 else 0
                if content != 0:
                    raise IcebergUnsupportedError(
                        "delete file added by an 'append' snapshot — "
                        "malformed table"
                    )
                added.append(
                    (_strip_uri(df_["file_path"]), df_.get("partition") or {})
                )
    if not added:
        return spark.createDataFrame([], schema)

    if not id_parts:
        return spark.read.schema(schema).parquet(
            *sorted(p for p, _ in added)
        )
    data_schema = T.StructType(
        [f for f in schema.fields if f.name not in id_parts]
    )
    types = {f.name: f.dataType for f in schema.fields}
    groups: dict[tuple, list[str]] = {}
    for p, pv in added:
        key = tuple(
            _typed_partition_value(pv.get(c), types[c]) for c in id_parts
        )
        groups.setdefault(key, []).append(p)
    parts = []
    for key, paths in sorted(groups.items(), key=lambda kv: str(kv[0])):
        df = spark.read.schema(data_schema).parquet(*sorted(paths))
        for c, val in zip(id_parts, key):
            df = df.withColumn(c, F.lit(val).cast(types[c]))
        parts.append(df.select(*[f.name for f in schema.fields]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
