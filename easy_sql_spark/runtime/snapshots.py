"""Snapshot/versioned tables: time travel, rollback, vacuum, exactly-once
streaming commits over plain parquet — a manifest-based mini-lakehouse.

The reference delegates versioned-table semantics to Hudi (its Flink
samples upsert into Hudi tables — reference
test/sample_etl.flink.hudi-agg.sql:46, backend/flink.py:196-204); this
module re-expresses the capability Spark-first with no table-format
dependency, because the container (and many real clusters) carries
neither Delta nor Hudi jars.

Layout (everything under one table root):

    root/_manifests/v00000001.json      one manifest per committed version
    root/data/commit=<v>-<uuid>/        one directory per commit's files
    root/data/commit=.../p=1/part-*.parquet   (partitioned tables)

Design decisions, chosen for 100 TB behavior:

- **Commit = atomic manifest create.** A writer stages its parquet files
  into a fresh ``commit=`` directory (invisible to readers — reads only
  follow manifests), then claims version N by creating
  ``_manifests/v{N}.json`` with the Hadoop FileSystem's
  ``create(path, overwrite=false)`` — atomic on HDFS and local FS.  A
  lost race surfaces as FileAlreadyExists; append-like operations
  rebase on the new latest and retry (optimistic concurrency, the
  Delta/Iceberg protocol shape).
- **Live set tracked as leaf directories, not files.** Each manifest
  stores the full list of live ``commit=…[/part=…]`` leaf dirs.  Dir
  granularity keeps manifests small (one entry per partition per
  commit, not per file), makes dynamic-partition overwrite a set
  subtraction, and lets ``vacuum`` delete whole directories.  A 100 TB
  table with 10^5 partition-commits carries a few-MB manifest; the
  file-level listing + parquet checkpoint hybrid (what Delta does past
  that) is the documented growth path.
- **One scan per read.** ``spark.read.option("basePath", data)
  .parquet(*live_dirs)`` — the ``commit=`` path segment parses as a
  partition column and is dropped, real partition columns are
  recovered from their path segments, and Catalyst prunes/pushes into
  the single relation.  The manifest itself is a coarse skipping
  index: for partitioned tables the driver hands Spark only the live
  partition dirs, so dead versions are never even listed.
- **Exactly-once streaming.** ``commit_batch(batch_id, df)`` records
  the foreachBatch batch id in the manifest; a replayed batch (restart
  from checkpoint) is detected by scanning committed ids for the same
  stream key and skipped — the standard idempotent-sink contract.

Manifest format.  ``SnapshotTable.manifest()`` is the one reader of a
``vN.json`` and refuses one that lacks a required key.  Required:
``version``, ``parent``, ``operation``, ``ts``, ``schema``,
``partition_cols``, ``live``, ``added``, ``removed``, ``stats_cols``,
``stats`` (per live dir and stats column: ``[min, max, null_count]``),
``rows`` and ``bytes`` (per live dir: row count and on-disk bytes) and
``streams`` (per stream key: the last committed batch id, carried
through every commit).  Optional: ``external`` (shallow-clone dirs →
their data base), ``dvs`` (live deletion vectors), ``constraints``,
``batch_id`` / ``batch_ids`` / ``stream_key`` (the streaming commit
that wrote the version), plus whatever ``extra`` a caller records.
"""

from __future__ import annotations

import json
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.iterate import cut_lineage


def latest_per_key(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """One row per ``keys``: the row with the greatest ``order_col``,
    ties broken by the smallest md5 of the whole row (every column cast
    to string, NUL-joined), so the winner does not depend on input
    order.  The precombine of upserts and MERGE, the SCD2 intra-batch
    collapse and the CDC sink's first commit all keep this row."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(),
        F.md5(F.concat_ws("\x00", *[F.col(c).cast("string") for c in df.columns])),
    )
    return (
        df.withColumn("__latest_rn", F.row_number().over(w))
        .where(F.col("__latest_rn") == 1)
        .drop("__latest_rn")
    )


def bounds_exclude(mn, mx, op: str, val, nulls=None, rows=None) -> bool:
    """True when a file or dir whose column values lie in [``mn``,
    ``mx``], ``nulls`` of its ``rows`` NULL, provably holds no row with
    ``column op val`` (op: <, <=, >, >=, =, ``in`` with a list,
    ``is_null``, ``not_null``) — the skipping rule of the snapshot,
    Delta and Iceberg readers.  A None bound or count, or a value of
    another type, proves nothing.  A NaN bound is unknown: Spark orders
    NaN above every value, so a NaN max (scan) or a max widened to NaN
    (footer) leaves only the min to prune on."""
    import decimal as _dec
    import math as _math

    if op == "is_null":
        return nulls == 0
    if op == "not_null":
        return nulls is not None and rows is not None and nulls >= rows > 0
    if mn is None or mx is None or (isinstance(mn, float) and _math.isnan(mn)):
        return False
    if isinstance(mx, float) and _math.isnan(mx) and op not in ("<", "<="):
        return False
    vals = val if op == "in" and isinstance(val, (list, tuple, set)) else [val]
    vals = [float(v) if isinstance(v, _dec.Decimal) else v for v in vals]
    if any(
        isinstance(mn, str) != isinstance(v, str)
        or isinstance(mn, bool) != isinstance(v, bool)
        for v in vals
    ):
        return False
    if op == "in":
        return not any(mn <= v <= mx for v in vals)
    v = vals[0]
    if op == "=":
        return not mn <= v <= mx
    if op in ("<", "<="):
        return not (mn < v or (op == "<=" and mn <= v))
    if op in (">", ">="):
        return not (mx > v or (op == ">=" and mx >= v))
    return False


def check_change_range(
    manifest, existing, v0: int, v1: int, allow_rewrites: bool, applies_dvs: bool
) -> tuple[dict, dict]:
    """The change-feed range rule of ``SnapshotTable.changes`` and the
    ``snapshot_cdf`` stream: return the endpoint manifests of (``v0``,
    ``v1``] (``v0`` 0: before the first commit), or refuse a range with
    a vacuumed endpoint; without ``allow_rewrites``, a vacuumed or
    ``compact`` version inside; a ``delete_dv`` commit inside, or a dir
    live at both ends whose deletion vectors differ; and, when the
    reader cannot apply the endpoints' deletion vectors (``applies_dvs``
    false), a changed dir one of them targets."""
    gone = [v for v in (v0, v1) if v and v not in existing]
    if gone:
        raise ValueError(
            f"version(s) {gone} have been vacuumed; the change feed needs "
            "both endpoint manifests (restart a stream with "
            "starting_version at a surviving manifest)"
        )
    inside = range(v0 + 1, v1 + 1)
    if not allow_rewrites:
        vacuumed = [v for v in inside if v not in existing]
        if vacuumed:
            raise ValueError(
                f"range crosses vacuumed version(s) {vacuumed}: rewrite "
                "detection is impossible without their manifests; pass "
                "allow_rewrites=True to diff the surviving endpoints anyway"
            )
    ops = {v: manifest(v)["operation"] for v in inside if v in existing}
    m0 = manifest(v0) if v0 else {"live": []}
    m1 = manifest(v1)
    frm, to = set(m0["live"]), set(m1["live"])

    def targets(m: dict) -> set[tuple[str, str]]:
        return {(dv["dir"], t) for dv in m.get("dvs") or [] for t in dv["targets"]}

    t0, t1 = targets(m0), targets(m1)
    touched = {t for _, t in t0 ^ t1 if t in frm & to}
    if not applies_dvs:
        touched |= {t for _, t in t0 if t in frm - to}
        touched |= {t for _, t in t1 if t in to - frm}
    dv_commits = [v for v, op in ops.items() if op == "delete_dv"]
    why = [f"crosses deletion-vector commit(s) {dv_commits}"] if dv_commits else []
    if touched:
        why.append(f"changes dir(s) {sorted(touched)} that deletion vectors target")
    if why:
        raise ValueError(
            f"range {' and '.join(why)}: the dir-level feed cannot express "
            "sub-file deletes — compact() first (applies and clears DVs)"
        )
    rewriters = [v for v, op in ops.items() if op == "compact"]
    if rewriters and not allow_rewrites:
        raise ValueError(
            f"range crosses compact commit(s) {rewriters}: rewrites "
            "are not data changes; pass allow_rewrites=True to see "
            "them as delete+insert anyway"
        )
    return m0, m1


_MANIFEST_FMT = "v%08d.json"
_MANIFEST_KEYS = (
    "version", "parent", "operation", "ts", "schema", "partition_cols",
    "live", "added", "removed", "stats_cols", "stats", "rows", "bytes",
    "streams",
)
_RETRIES = 5
# Delta-style default retention for dirs no surviving manifest has ever
# referenced: they are indistinguishable from a CONCURRENT writer's
# staged-but-uncommitted commit dir, so deleting them young corrupts the
# commit that is about to land.  24h; pass min_age_seconds=0 explicitly
# to opt in to immediate orphan deletion (single-writer test/dev only).
_ORPHAN_MIN_AGE_S = 24 * 3600.0


class SnapshotConflictError(RuntimeError):
    """Another writer won the version race and the operation cannot be
    rebased automatically."""


class SnapshotConstraintError(ValueError):
    """A CHECK constraint rejected the batch (or, for
    ``add_constraint``, the existing table data)."""


class _FooterUnusable(Exception):
    """Internal: parquet footers cannot answer the commit statistics
    exactly — fall back to the distributed scan path."""


class _FS:
    """Thin driver-side wrapper over the Hadoop FileSystem API (py4j) —
    the same code path works on file:// and hdfs:// (and any FS with a
    Hadoop connector).  Only manifest-sized metadata flows through the
    driver; table data always moves through Spark jobs."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._conf = sc._jsc.hadoopConfiguration()
        self.root = root
        self._fs = self._path(root).getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._path(p))

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._path(p))

    def create_atomic(self, p: str, data: bytes) -> bool:
        """Exclusive create; False when the path already exists (a lost
        commit race)."""
        try:
            stream = self._fs.create(self._path(p), False)
        except Exception as e:  # FileAlreadyExistsException via py4j
            if "AlreadyExists" in str(e.__class__) or "already exists" in str(e):
                return False
            raise
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        return True

    def read_bytes(self, p: str) -> bytes:
        stream = self._fs.open(self._path(p))
        try:
            baos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, baos, self._conf, False
            )
            return bytes(baos.toByteArray())
        finally:
            stream.close()

    def list_names(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return [
            s.getPath().getName() for s in self._fs.listStatus(self._path(p))
        ]

    def list_files(self, p: str) -> list[tuple[str, int]]:
        """(name, size) for the plain files directly under ``p``."""
        if not self.exists(p):
            return []
        return [
            (s.getPath().getName(), int(s.getLen()))
            for s in self._fs.listStatus(self._path(p))
            if not s.isDirectory()
        ]

    def leaf_dirs(self, p: str, depth: int) -> list[str]:
        """Relative leaf dirs exactly ``depth`` levels under ``p``
        (depth 0 → [''] when p exists)."""
        if depth == 0:
            return [""] if self.exists(p) else []
        out: list[str] = []

        def walk(cur: str, rel: str, d: int) -> None:
            for s in self._fs.listStatus(self._path(cur)):
                if not s.isDirectory():
                    continue
                name = s.getPath().getName()
                sub = f"{rel}/{name}" if rel else name
                if d == 1:
                    out.append(sub)
                else:
                    walk(f"{cur}/{name}", sub, d - 1)

        walk(p, "", depth)
        return out

    def delete(self, p: str) -> None:
        self._fs.delete(self._path(p), True)

    def mtime(self, p: str) -> float:
        return self._fs.getFileStatus(self._path(p)).getModificationTime() / 1e3

    def now(self) -> float:
        """Commit wall-clock, taken from the FS mtime domain so as-of
        time travel compares like with like."""
        probe = f"{self.root}/_manifests/.ts-{_uuid.uuid4().hex}"
        self.create_atomic(probe, b"")
        try:
            return self.mtime(probe)
        finally:
            self.delete(probe)


class SnapshotTable:
    """A versioned parquet table at a filesystem root.  See module
    docstring for the commit protocol and layout."""

    #: single-column merge key sets at/below this ride an ``isin``
    #: literal in the probe/survivor filters (narrow — zero broadcast
    #: -build jobs); larger batches keep the broadcast/shuffled
    #: semi/anti joins.  Mirrors MinHashDedupIndex.ISIN_DROP_MAX: a
    #: bigger literal list bloats the plan tree past the join's cost.
    ISIN_KEYS_MAX = 4096

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = _FS(spark, self.root)
        self.data_dir = f"{self.root}/data"
        self.manifest_dir = f"{self.root}/_manifests"

    # ------------------------------------------------------------ manifests
    def _manifest_path(self, version: int) -> str:
        return f"{self.manifest_dir}/{_MANIFEST_FMT % version}"

    def existing_versions(self) -> list[int]:
        """Versions whose manifest file still EXISTS (vacuum deletes old
        manifests), ascending.  Every full-log iteration must walk this
        list, never ``range(1, latest+1)`` — after a vacuum the early
        manifests are gone and a blind range read crashes."""
        return sorted(
            int(n[1:9])
            for n in self.fs.list_names(self.manifest_dir)
            if n.startswith("v") and n.endswith(".json")
        )

    def latest_version(self) -> int:
        """0 when the table has no committed version yet."""
        return max(self.existing_versions(), default=0)

    def manifest(self, version: int) -> dict:
        """Version ``version``'s manifest; ``ValueError`` when it lacks a
        required key (see "Manifest format" in the module docstring)."""
        m = json.loads(self.fs.read_bytes(self._manifest_path(version)))
        missing = [k for k in _MANIFEST_KEYS if k not in m]
        if missing:
            raise ValueError(
                f"snapshot manifest v{version} at {self.root} lacks "
                f"required keys {missing}"
            )
        return m

    def history(self) -> list[dict]:
        """Version log, newest first (op, timestamp, live-dir count).
        Covers surviving manifests only — vacuumed versions drop out."""
        out = []
        for v in reversed(self.existing_versions()):
            m = self.manifest(v)
            out.append(
                {
                    "version": m["version"],
                    "operation": m["operation"],
                    "ts": m["ts"],
                    "live_dirs": len(m["live"]),
                    "added_dirs": len(m["added"]),
                    "batch_id": m.get("batch_id"),
                }
            )
        return out

    # -------------------------------------------------------------- commits
    @staticmethod
    def _constrained(df: DataFrame, constraints: dict[str, str] | None) -> DataFrame:
        """Wrap the batch so the WRITE JOB ITSELF fails on the first row
        violating a CHECK constraint — the guard rides the write's own
        projection (nested ``when``/``raise_error`` around the first
        column), so enforcement costs zero extra passes over the data
        at any scale.  SQL CHECK semantics: a row passes when the
        expression is TRUE **or NULL** (UNKNOWN passes, as in the
        standard and Delta's CHECK constraints)."""
        if not constraints:
            return df
        first = df.schema.fields[0]
        guard = F.col(first.name)
        for name, expr in sorted(constraints.items()):
            viol = ~F.coalesce(F.expr(expr), F.lit(True))
            guard = F.when(
                viol,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"snapshot constraint {name!r} violated "
                            f"(CHECK {expr}): row="
                        ),
                        F.substring(F.to_json(F.struct(*df.columns)), 1, 200),
                    )
                ).cast(first.dataType),
            ).otherwise(guard)
        return df.select(
            guard.alias(first.name), *df.columns[1:]
        )

    def _stage(
        self,
        df: DataFrame,
        partition_by: list[str],
        version_hint: int,
        constraints: dict[str, str] | None = None,
    ) -> tuple[str, list[str]]:
        """Write the batch into a fresh commit dir; return (commit dir
        name, its leaf dirs relative to data/).  ``constraints`` are
        enforced inside the write projection (see :meth:`_constrained`);
        a violating batch fails the write job and raises
        :class:`SnapshotConstraintError` (the partial commit dir is an
        orphan — invisible to readers, reaped by vacuum)."""
        commit = f"commit={version_hint}-{_uuid.uuid4().hex[:12]}"
        path = f"{self.data_dir}/{commit}"
        writer = self._constrained(df, constraints).write.mode("error")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.parquet(path)
        except Exception as e:  # noqa: BLE001 - py4j wraps the raise_error
            if "snapshot constraint" in str(e):
                msg = next(
                    (ln for ln in str(e).splitlines() if "snapshot constraint" in ln),
                    str(e),
                )
                raise SnapshotConstraintError(msg.strip()) from None
            raise
        leaves = self.fs.leaf_dirs(path, len(partition_by))
        return commit, [f"{commit}/{leaf}" if leaf else commit for leaf in leaves]

    def _stage_stats(
        self,
        commit_dirs: list[str],
        stats_cols: list[str],
        partition_by: list[str],
        schema_json: str | None = None,
    ) -> tuple[dict[str, dict], dict[str, int]]:
        """Per-leaf-dir [min, max, null-count] for each stats column PLUS
        the dir's row count for the manifest.

        Fast path: the freshly written parquet FOOTERS already carry
        exactly these statistics — row counts and per-row-group
        min/max/null-count — so the commit reads O(files) footers (tiny
        metadata I/O) instead of re-scanning the staged data.  At 100 TB
        of daily ingest the old staged-data re-scan was 2× read
        amplification on the whole write path.

        Fallback (``_scan_stats``): one distributed agg job over the
        staged files — taken when footers cannot answer (non-local
        filesystem, a column without usable footer stats such as legacy
        INT96 timestamps, very large file counts)."""
        if not commit_dirs:
            return {}, {}
        got = self._footer_stats(commit_dirs, stats_cols, partition_by, schema_json)
        if got is not None:
            return got
        return self._scan_stats(commit_dirs, stats_cols, partition_by)

    # footer reads above this many staged files would serialize on the
    # driver; hand the work back to a distributed scan instead
    _FOOTER_STATS_MAX_FILES = 4096

    def _footer_stats(
        self,
        commit_dirs: list[str],
        stats_cols: list[str],
        partition_by: list[str],
        schema_json: str | None,
    ) -> tuple[dict[str, dict], dict[str, int]] | None:
        """Commit statistics straight from the staged files' parquet
        footers (driver-side, metadata-only I/O); None when the footers
        cannot answer exactly and the distributed scan must run.

        Partition columns are not stored in the data files — their
        single per-dir value is parsed from the hive path segment and
        typed via the table schema.  Decimal columns whose physical type
        pyarrow cannot convert (INT32/INT64-backed) decode from the raw
        unscaled statistics.  tz-aware timestamp stats are normalized to
        naive local time to match what a Spark scan would collect."""
        if "://" in self.data_dir and not self.data_dir.startswith("file:"):
            return None  # remote FS: footers aren't locally readable
        if len(commit_dirs) > self._FOOTER_STATS_MAX_FILES:
            return None
        import datetime as _dt
        import decimal as _dec
        import math as _math
        from urllib.parse import unquote as _unquote

        import pyarrow.parquet as _pq

        local_base = self.data_dir
        if local_base.startswith("file:"):
            local_base = "/" + local_base.split(":", 1)[1].lstrip("/")

        part_set = set(partition_by or [])
        types: dict = {}
        if schema_json and any(c in part_set for c in stats_cols):
            sch = StructType.fromJson(json.loads(schema_json))
            types = {f.name: f.dataType for f in sch.fields}

        def part_value(d: str, col: str):
            for seg in d.split("/")[1:]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    if k == col:
                        if v == "__HIVE_DEFAULT_PARTITION__":
                            return None
                        v = _unquote(v)
                        t = types.get(col)
                        s = t.simpleString() if t is not None else "string"
                        if s in ("tinyint", "smallint", "int", "bigint"):
                            return int(v)
                        if s in ("float", "double"):
                            return float(v)
                        if s.startswith("decimal"):
                            return _dec.Decimal(v)
                        if s == "date":
                            return _dt.date.fromisoformat(v)
                        if s == "boolean":
                            return v.lower() == "true"
                        if s == "string":
                            return v
                        raise _FooterUnusable(f"partition type {s}")
            raise _FooterUnusable(f"no path value for {col} in {d}")

        def chunk_min_max(st, cc):
            """(min, max) of one column chunk, or None for an all-null
            chunk; raises _FooterUnusable when the footer can't say."""
            if st is None or st.null_count is None:
                raise _FooterUnusable("no statistics")
            if st.num_values == 0:
                return None
            if not st.has_min_max:
                raise _FooterUnusable("no min/max")
            if cc.physical_type in ("FLOAT", "DOUBLE"):
                # parquet float min/max EXCLUDE NaN while Spark orders
                # NaN ABOVE every value (a scan's max IS NaN when one is
                # present); the footer cannot prove NaN absence, so a
                # too-small max could wrongly prune a dir whose only
                # matching rows are NaN.  Widen the max to NaN — the
                # "could contain NaN" sentinel `_dir_survives` treats as
                # an unknown upper bound; the (NaN-safe) min stays
                # (ADVICE r6 #4).  An ALL-NaN chunk can carry min=NaN
                # (writer-dependent): it contributes NO lower bound —
                # NaN rows never satisfy x < v, and a NaN min merged via
                # Python min() would poison the dir bound ORDER-
                # DEPENDENTLY (min(1.0, nan)=1.0 but min(nan, 1.0)=nan),
                # which was a real pruning flake at 3-rows-3-files.
                mn = st.min
                if isinstance(mn, float) and _math.isnan(mn):
                    mn = None
                return mn, float("nan")
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow can't logically convert some physical types;
                # small-precision decimals carry raw unscaled ints
                lt = json.loads(st.logical_type.to_json())
                if lt.get("Type") == "Decimal" and isinstance(st.min_raw, int):
                    scale = int(lt["scale"])
                    q = _dec.Decimal(1).scaleb(-scale)
                    mn = _dec.Decimal(st.min_raw).scaleb(-scale).quantize(q)
                    mx = _dec.Decimal(st.max_raw).scaleb(-scale).quantize(q)
                else:
                    raise _FooterUnusable(f"unconvertible stats: {cc.physical_type}")

            def norm(v):
                if isinstance(v, _dt.datetime) and v.tzinfo is not None:
                    return v.astimezone().replace(tzinfo=None)
                return v

            return norm(mn), norm(mx)

        data_cols = [c for c in stats_cols if c not in part_set]
        out: dict[str, dict] = {}
        counts: dict[str, int] = {}
        n_files = 0
        try:
            for d in commit_dirs:
                abs_dir = f"{local_base}/{d}" if d else local_base
                names = [
                    n
                    for n, _sz in self.fs.list_files(f"{self.data_dir}/{d}" if d else self.data_dir)
                    if n.endswith(".parquet")
                ]
                n_files += len(names)
                if n_files > self._FOOTER_STATS_MAX_FILES:
                    return None
                rows = 0
                agg: dict[str, list] = {c: [None, None, 0] for c in data_cols}
                for name in names:
                    md = _pq.ParquetFile(f"{abs_dir}/{name}").metadata
                    rows += md.num_rows
                    if not data_cols:
                        continue
                    for gi in range(md.num_row_groups):
                        rg = md.row_group(gi)
                        idx = {
                            rg.column(j).path_in_schema: j
                            for j in range(rg.num_columns)
                        }
                        for c in data_cols:
                            j = idx.get(c)
                            if j is None:
                                raise _FooterUnusable(f"column {c} absent")
                            cc = rg.column(j)
                            st = cc.statistics
                            mm = chunk_min_max(st, cc)
                            a = agg[c]
                            a[2] += st.null_count
                            if mm is None:
                                continue
                            mn, mx = mm
                            if mn is not None:  # all-NaN float chunk: no bound
                                a[0] = mn if a[0] is None else min(a[0], mn)
                            a[1] = mx if a[1] is None else max(a[1], mx)
                counts[d] = rows
                if stats_cols:
                    entry = {}
                    for c in stats_cols:
                        if c in part_set:
                            v = part_value(d, c)
                            entry[c] = [
                                self._plain_stat(v, -1),
                                self._plain_stat(v, +1),
                                rows if v is None else 0,
                            ]
                        else:
                            mn, mx, nc = agg[c]
                            entry[c] = [
                                self._plain_stat(mn, -1),
                                self._plain_stat(mx, +1),
                                int(nc),
                            ]
                    out[d] = entry
        except _FooterUnusable:
            return None
        return out, counts

    def _scan_stats(
        self, commit_dirs: list[str], stats_cols: list[str], partition_by: list[str]
    ) -> tuple[dict[str, dict], dict[str, int]]:
        """Distributed fallback for :meth:`_stage_stats`: ONE small agg
        job over the staged files, grouped on the dir path itself
        (input_file_name → dir).  With no stats columns the job projects
        ZERO data columns (parquet answers it from row-group footers)."""
        scan = self.spark.read.option("basePath", self.data_dir).parquet(
            *[f"{self.data_dir}/{d}" for d in commit_dirs]
        )
        missing = [c for c in stats_cols if c not in scan.columns]
        if missing:
            raise ValueError(f"stats columns {missing} absent from the batch")
        # relative dir = path between data_dir and the file name;
        # input_file_name() is a URI (file:/// or hdfs://host/...), so
        # anchor on the regex-escaped data_dir path rather than an offset
        import re as _re

        esc = _re.escape(self.data_dir)
        dir_expr = F.regexp_extract(
            F.input_file_name(), f"{esc}/(.+)/[^/]+$", 1
        )
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in stats_cols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nc_{c}")
            )
        rows = scan.groupBy(dir_expr.alias("__dir")).agg(*aggs).collect()

        # a dir holding only 0-row files yields no group: it records 0
        # rows and no bounds, as the footer path does
        out: dict[str, dict] = {
            d: {c: [None, None, 0] for c in stats_cols} for d in commit_dirs
        }
        counts: dict[str, int] = dict.fromkeys(commit_dirs, 0)
        for r in rows:
            counts[r["__dir"]] = int(r["__rows"])
            # third element: the column's NULL count in this dir — powers
            # IS NULL / IS NOT NULL dir pruning
            out[r["__dir"]] = {
                c: [
                    self._plain_stat(r[f"__mn_{c}"], -1),
                    self._plain_stat(r[f"__mx_{c}"], +1),
                    int(r[f"__nc_{c}"] or 0),
                ]
                for c in stats_cols
            }
        return out, counts

    @staticmethod
    def _plain_stat(v, toward):
        """JSON-safe, ORDER-PRESERVING within a column's type: numbers
        and strings pass through; decimals go to float (decimal STRINGS
        are not lexicographically ordered — '9.5' > '10.5' — so
        stringifying them would let _dir_survives wrongly prune live
        dirs), widened by one ulp OUTWARD (toward=-1 for min, +1 for
        max) whenever float rounding moved the bound inward, keeping
        pruning strictly conservative; dates/timestamps go to their
        naturally-ordered ISO forms.  Shared by the footer and scan
        stats paths so both encode manifests identically."""
        import decimal as _dec
        import math as _math

        if isinstance(v, _dec.Decimal):
            f = float(v)
            if toward < 0 and _dec.Decimal(f) > v:
                f = _math.nextafter(f, -_math.inf)
            elif toward > 0 and _dec.Decimal(f) < v:
                f = _math.nextafter(f, _math.inf)
            return f
        return v if isinstance(v, (int, float, str, bool, type(None))) else str(v)

    def _try_commit(self, manifest: dict) -> bool:
        body = json.dumps(manifest, indent=1).encode()
        return self.fs.create_atomic(self._manifest_path(manifest["version"]), body)

    def _commit_loop(self, build_manifest) -> dict:
        """Optimistic-concurrency commit: ``build_manifest(parent_manifest,
        version)`` produces the manifest for the next version; on a lost
        race we re-read the new latest and rebuild (the rebase)."""
        for _ in range(_RETRIES):
            v = self.latest_version()
            parent = self.manifest(v) if v else None
            manifest = build_manifest(parent, v + 1)
            if self._try_commit(manifest):
                return manifest
        raise SnapshotConflictError(
            f"lost {_RETRIES} consecutive commit races on {self.root}"
        )

    def _base_manifest(self, version: int, parent: dict | None, op: str, df: DataFrame, partition_by: list[str], extra: dict | None = None) -> dict:
        m = {
            "version": version,
            "parent": parent["version"] if parent else None,
            "operation": op,
            "ts": self.fs.now(),
            "schema": df.schema.json(),
            "partition_cols": partition_by,
            "live": [],
            "added": [],
            "removed": [],
        }
        m["stats_cols"] = (parent or {}).get("stats_cols", [])
        m["stats"] = {}
        constraints = (parent or {}).get("constraints") or {}
        if constraints:
            m["constraints"] = dict(constraints)
        m.update(extra or {})
        # cumulative per-stream last-committed batch id (Delta's txn
        # appId→version idiom): carried through EVERY commit, so replay
        # protection is one latest-manifest read and survives vacuum
        streams = dict(self._streams_state(parent))
        if m.get("stream_key") is not None and m.get("batch_id") is not None:
            k = str(m["stream_key"])
            streams[k] = max(int(m["batch_id"]), streams.get(k, -(1 << 62)))
        m["streams"] = streams
        return m

    @staticmethod
    def _streams_state(parent: dict | None) -> dict[str, int]:
        """The per-stream last-committed batch ids as of ``parent``."""
        return parent["streams"] if parent else {}

    def _merge_stats(
        self, m: dict, parent: dict | None, staged_dirs: list[str]
    ) -> None:
        """Manifest per-dir metadata: parent's entries for still-live
        dirs carry forward (stats, row counts, byte totals, external-base
        mappings from shallow clones); staged dirs get their statistics
        from the fresh files' footers (or one small agg job)."""
        live = set(m["live"])

        def carried(key: str) -> dict:
            return {
                d: x for d, x in ((parent or {}).get(key) or {}).items() if d in live
            }

        stats, counts = self._stage_stats(
            staged_dirs, m["stats_cols"], m["partition_cols"], m["schema"]
        )
        if m["stats_cols"]:
            m["stats"] = {**carried("stats"), **stats}
        m["rows"] = {**carried("rows"), **counts}
        # per-dir on-disk byte totals: staged dirs get one listStatus each
        # while the commit's listing is warm.  Size consumers (e.g.
        # MinHashDedupIndex._index_bytes) then read table size as pure
        # manifest metadata — no per-read FS walk.
        m["bytes"] = {
            **carried("bytes"),
            **{
                d: sum(sz for _, sz in self.fs.list_files(f"{self.data_dir}/{d}"))
                for d in staged_dirs
            },
        }
        ext = carried("external")
        if ext:
            m["external"] = ext
        # deletion vectors carry forward with target-dir bookkeeping: a
        # DV whose target dirs all died (rewritten/overwritten) is
        # dropped; one with SOME dead targets stays (path-matching reads
        # remain exact) but loses its trusted row count, so metadata
        # row_count falls back to a scan instead of overcounting
        dvs = []
        for dv in (parent or {}).get("dvs", []):
            alive = [t for t in dv["targets"] if t in live]
            if not alive:
                continue
            entry = dict(dv)
            if len(alive) < len(dv["targets"]):
                entry["rows"] = None
            dvs.append(entry)
        if dvs:
            m["dvs"] = dvs
        else:
            m.pop("dvs", None)

    def _resolve_partition_by(self, parent: dict | None, partition_by: list[str] | None) -> list[str]:
        if parent is not None:
            existing = parent["partition_cols"]
            if partition_by is not None and list(partition_by) != existing:
                raise ValueError(
                    f"snapshot table is partitioned by {existing}, "
                    f"got partition_by={list(partition_by)}"
                )
            return existing
        return list(partition_by or [])

    @staticmethod
    def _check_schema_evolution(parent: dict | None, df: DataFrame) -> None:
        """Additive-only evolution: a commit may ADD columns (old files
        read NULL for them via the pinned scan schema) but never drop
        one — the latest manifest's schema is THE read schema, so a
        dropped column would silently vanish from every older file.
        Same discipline as the warehouse path's ``evolve_schema``."""
        if parent is None:
            return
        old = {f["name"] for f in json.loads(parent["schema"])["fields"]}
        new = {f.name for f in df.schema.fields}
        dropped = sorted(old - new)
        if dropped:
            raise ValueError(
                f"snapshot commit drops columns {dropped}; evolution is "
                "additive-only (rewrite via overwrite of a projected read "
                "if you really mean to drop)"
            )

    # ---------------------------------------------------------- constraints
    def _audit_dirs(
        self,
        dirs: list[str],
        constraints: dict[str, str],
        schema: StructType,
        part_cols: list[str],
        external: dict | None = None,
        dv_manifest: dict | None = None,
    ) -> None:
        """ONE aggregate pass over ``dirs`` counting violations of every
        constraint; raises :class:`SnapshotConstraintError` with per-
        constraint counts if any row fails.  NULL passes (SQL CHECK).

        ``dv_manifest`` — when auditing EXISTING table data (vs freshly
        staged files), pass the manifest so live deletion vectors are
        applied first: rows already deleted by ``delete_where_dv`` are
        invisible to every read and must not count as violations."""
        if not constraints or not dirs:
            return
        if dv_manifest is not None:
            scan = self._read_state(dv_manifest, dirs, schema)
        else:
            scan = self._read_dirs(dirs, schema, part_cols, external)
        names = sorted(constraints)
        counts = scan.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(F.expr(constraints[n]), F.lit(True)), 1
                    ).otherwise(0)
                ).alias(f"c{i}")
                for i, n in enumerate(names)
            ]
        ).first()
        bad = {
            names[i]: int(counts[f"c{i}"] or 0)
            for i in range(len(names))
            if int(counts[f"c{i}"] or 0) > 0
        }
        if bad:
            raise SnapshotConstraintError(
                f"constraint violation counts over existing data: {bad}"
            )

    def _recheck_constraints(
        self, staged: dict, parent: dict | None, schema: StructType, pby: list[str]
    ) -> None:
        """Rebase safety: a concurrent ``add_constraint`` may have landed
        between our stage and this commit attempt — audit the staged
        files for exactly the DELTA constraints (one agg pass, rare
        path), so the published manifest's constraints always hold over
        its live set."""
        current = (parent or {}).get("constraints") or {}
        fresh = {
            k: v
            for k, v in current.items()
            if staged.get("constraints", {}).get(k) != v
        }
        if fresh:
            self._audit_dirs(staged["dirs"], fresh, schema, pby)
            staged.setdefault("constraints", {}).update(fresh)

    def _metadata_commit(self, op: str, mutate) -> dict:
        """Commit a new version that changes ONLY table metadata —
        ``mutate(manifest, parent)`` edits the manifest in place; live
        set, stats, rows and schema all carry forward untouched."""
        def build(parent, version):
            if parent is None:
                raise ValueError(f"no committed versions at {self.root}")
            m = dict(parent)
            m.update(
                version=version,
                parent=parent["version"],
                operation=op,
                ts=self.fs.now(),
                added=[],
                removed=[],
                live=list(parent["live"]),
            )
            m.pop("batch_id", None)
            m.pop("stream_key", None)
            m["streams"] = dict(self._streams_state(parent))
            mutate(m, parent)
            return m

        return self._commit_loop(build)

    def add_constraint(self, name: str, expr: str) -> dict:
        """ADD CONSTRAINT ``name`` CHECK ``expr`` (Delta semantics): the
        EXISTING data is validated first with one aggregate scan —
        manifest-stats-pruned is not possible here because CHECK must
        hold for every row — then the constraint lands as a
        metadata-only commit; every subsequent write enforces it inside
        the write job itself (see :meth:`_constrained`)."""
        latest = self.latest_version()
        if not latest:
            raise ValueError(f"no committed versions at {self.root}")
        parent = self.manifest(latest)
        if name in (parent.get("constraints") or {}):
            raise ValueError(f"constraint {name!r} already exists")
        schema = StructType.fromJson(json.loads(parent["schema"]))
        self._audit_dirs(
            parent["live"], {name: expr}, schema,
            parent["partition_cols"], parent.get("external"),
            dv_manifest=parent,
        )

        def mutate(m, p):
            cs = dict(p.get("constraints") or {})
            if name in cs:
                raise SnapshotConflictError(
                    f"constraint {name!r} added concurrently"
                )
            cs[name] = expr
            m["constraints"] = cs

        return self._metadata_commit(f"add_constraint_{name}", mutate)

    def drop_constraint(self, name: str) -> dict:
        """DROP CONSTRAINT — metadata-only commit."""

        def mutate(m, p):
            cs = dict(p.get("constraints") or {})
            if name not in cs:
                raise ValueError(f"no constraint {name!r}")
            del cs[name]
            if cs:
                m["constraints"] = cs
            else:
                m.pop("constraints", None)

        return self._metadata_commit(f"drop_constraint_{name}", mutate)

    def constraints(self, version: int | None = None) -> dict[str, str]:
        v = version or self.latest_version()
        return dict(self.manifest(v).get("constraints") or {}) if v else {}

    # ------------------------------------------------------ metadata reads
    def row_count(
        self,
        version: int | None = None,
        partitions: dict[str, list] | None = None,
    ) -> int:
        """COUNT(*) answered from the manifest's per-dir row counts — no
        file is listed, no byte of data is read: the 100 TB count is a
        driver-side sum over the live set.  ``partitions`` restricts to
        matching partition dirs (same spec filter as :meth:`read`).
        With deletion vectors whose row counts are not all trusted, or a
        partition spec over a table with any, it is one Spark count of
        the DV-applied read."""
        v = version or self.latest_version()
        if not v:
            raise ValueError(f"no committed versions at {self.root}")
        m = self.manifest(v)
        live = self._partition_dirs(m, m["live"], partitions)
        dvs = m.get("dvs") or []
        if dvs and (
            partitions is not None or any(dv["rows"] is None for dv in dvs)
        ):
            return self.read(version=v, partitions=partitions).count()
        return sum(m["rows"][d] for d in live) - sum(int(dv["rows"]) for dv in dvs)

    @staticmethod
    def _partition_dirs(
        m: dict, dirs: list[str], partitions: dict[str, list] | None
    ) -> list[str]:
        """``dirs`` whose partition-path segments match the spec
        ``partitions`` ({col: [values…]}, values compared as strings);
        all of them with no spec."""
        if not partitions:
            return dirs
        bad = [c for c in partitions if c not in m["partition_cols"]]
        if bad:
            raise ValueError(f"not partition columns: {bad}")
        wanted = {c: {str(x) for x in vs} for c, vs in partitions.items()}

        def keep(d: str) -> bool:
            segs = dict(s.split("=", 1) for s in d.split("/")[1:] if "=" in s)
            return all(segs.get(c) in vals for c, vals in wanted.items())

        return [d for d in dirs if keep(d)]

    # ------------------------------------------------------------- cloning
    def clone_to(self, target_root: str, version: int | None = None) -> "SnapshotTable":
        """Shallow CLONE (Delta semantics): a NEW snapshot table whose v1
        references this table's data files in place — zero data copied,
        O(manifest) work regardless of table size.  Schema, partitioning,
        stats, row counts, byte totals and constraints all carry over;
        subsequent writes to the clone land in the clone's own ``data/``
        dir and never touch the source.  ``compact()`` on the clone
        rewrites the live set locally — the documented way to materialize
        it into a self-contained (deep) copy.

        Caveat (same as Delta's shallow clone): VACUUM on the SOURCE can
        delete files a clone still references; clones are for
        short-lived branches/experiments, or materialize them."""
        src_v = version or self.latest_version()
        if not src_v:
            raise ValueError(f"no committed versions at {self.root}")
        src = self.manifest(src_v)
        target = SnapshotTable(self.spark, target_root)
        if target.latest_version():
            raise ValueError(f"snapshot table already exists at {target_root}")
        src_ext = src.get("external") or {}
        src_dv_dirs = [dv["dir"] for dv in src.get("dvs") or []]
        external = {
            d: src_ext.get(d, self.data_dir)
            for d in list(src["live"]) + src_dv_dirs
        }
        m = {
            "version": 1,
            "parent": None,
            "operation": f"clone_of_{self.root}@v{src_v}",
            "ts": self.fs.now(),
            "schema": src["schema"],
            "partition_cols": src["partition_cols"],
            "live": list(src["live"]),
            "added": list(src["live"]),
            "removed": [],
            "stats_cols": src["stats_cols"],
            "stats": dict(src["stats"]),
            "rows": dict(src["rows"]),
            "bytes": dict(src["bytes"]),
            "streams": {},
        }
        if external:
            m["external"] = external
        if src.get("constraints"):
            m["constraints"] = dict(src["constraints"])
        if src.get("dvs"):
            m["dvs"] = [dict(dv) for dv in src["dvs"]]
        target.fs.mkdirs(target.manifest_dir)
        if not target._try_commit(m):
            raise ValueError(f"snapshot table already exists at {target_root}")
        return target

    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """First commit (v1).  Raises if the table already has versions."""
        if self.latest_version():
            raise ValueError(f"snapshot table already exists at {self.root}")
        return self.overwrite(
            df, partition_by=partition_by, stats_cols=stats_cols
        )

    def _commit_staged(
        self,
        op: str,
        df: DataFrame,
        replaces,
        extra: dict | None = None,
        partition_by: list[str] | None = None,
        base: int | None = None,
        additive: bool = True,
    ) -> dict:
        """The one stage-and-publish path of the data-writing commits:
        stage ``df`` once (reused across retries), re-audit it for
        constraints added concurrently, then publish the parent's live
        set minus ``replaces(parent, staged_dirs, staged_on_version)``
        plus the staged dirs.  ``base``: the version a serializable
        commit computed ``df`` against (any other parent conflicts).
        ``additive``: the commit may add columns but not drop one."""
        staged: dict = {}

        def build(parent, version):
            if base is not None and parent["version"] != base:
                raise SnapshotConflictError(
                    f"{op} computed against v{base} but v{parent['version']} "
                    "committed concurrently; retry on the new table state"
                )
            pby = self._resolve_partition_by(parent, partition_by)
            if additive:
                self._check_schema_evolution(parent, df)
            if "dirs" not in staged:
                staged["constraints"] = dict((parent or {}).get("constraints") or {})
                staged["dirs"] = self._stage(df, pby, version, staged["constraints"])[1]
                staged["on"] = parent["version"] if parent else 0
            self._recheck_constraints(staged, parent, df.schema, pby)
            removed = replaces(parent, staged["dirs"], staged["on"])
            gone = set(removed)
            m = self._base_manifest(version, parent, op, df, pby, extra)
            m["added"] = staged["dirs"]
            m["removed"] = removed
            m["live"] = [
                d for d in (parent["live"] if parent else []) if d not in gone
            ] + staged["dirs"]
            self._merge_stats(m, parent, staged["dirs"])
            return m

        return self._commit_loop(build)

    def append(self, df: DataFrame, extra: dict | None = None) -> dict:
        """Add the batch's rows; prior files stay live.  Rebases cleanly
        on commit races (an append commutes with any other commit)."""
        return self._commit_staged("append", df, lambda *_: [], extra)

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        extra: dict | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Replace the table contents; old files stay on disk for time
        travel until vacuumed.  ``stats_cols`` (first commit, or any
        overwrite) declares the columns whose per-dir min/max ride every
        manifest from then on — the data-skipping index ``read(where=…)``
        prunes with."""
        if stats_cols is not None:
            extra = {**(extra or {}), "stats_cols": list(stats_cols)}
        return self._commit_staged(
            "overwrite",
            df,
            lambda parent, *_: parent["live"] if parent else [],
            extra,
            partition_by=partition_by,
            additive=False,
        )

    def overwrite_partitions(self, df: DataFrame, extra: dict | None = None) -> dict:
        """Dynamic-partition overwrite: only the partitions PRESENT in the
        batch are replaced; all other live dirs survive.  The replacement
        is a manifest-level set subtraction — no data in untouched
        partitions is read or rewritten.

        Concurrency is partition-scoped (Delta-style): on a lost commit
        race the rebase inspects every intervening commit's touched
        partition specs — DISJOINT writers both land (each keeps the
        other's partitions live), while an OVERLAPPING writer raises
        ``SnapshotConflictError`` deterministically instead of silently
        last-writer-winning the shared partition."""
        latest = self.latest_version()
        if not latest or not self.manifest(latest)["partition_cols"]:
            raise ValueError(
                "overwrite_partitions requires a partitioned snapshot table"
            )

        def replaces(parent, new_dirs, staged_on):
            # partition spec = the path suffix past the commit dir
            new_specs = {d.split("/", 1)[1] for d in new_dirs}
            # rebase: conflict iff an intervening commit touched one of
            # OUR partitions (its added/removed specs intersect ours)
            for v in range(staged_on + 1, parent["version"] + 1):
                m_i = self.manifest(v)
                touched = {
                    d.split("/", 1)[1]
                    for d in m_i["added"] + m_i["removed"]
                    if "/" in d
                }
                hit = touched & new_specs
                if hit:
                    raise SnapshotConflictError(
                        f"concurrent commit v{v} ({m_i['operation']}) touched "
                        f"partition(s) {sorted(hit)} this overwrite_partitions "
                        "also writes; retry on the new table state"
                    )
            return [d for d in parent["live"] if d.split("/", 1)[1] in new_specs]

        return self._commit_staged("overwrite_partitions", df, replaces, extra)

    def apply_changes(
        self,
        source: DataFrame,
        keys: list[str],
        op_col: str = "__op",
        precombine: str | None = None,
        extra: dict | None = None,
        delete_op: str = "delete",
    ) -> dict:
        """Apply a CHANGELOG batch (CDC apply): ``source`` carries an
        ``op_col`` whose value is ``delete`` for deletions and anything
        else (``upsert``) for insert-or-update rows.  One atomic commit:
        matched upserts replace, unmatched upserts insert, delete keys
        vanish, untouched dirs survive — MERGE … WHEN MATCHED [AND op =
        'delete'] THEN DELETE semantics, the apply half of the
        reference's Flink postgres-cdc pipelines
        (easy_sql/sql_processor/backend/flink.py:339,
        test/sample_etl.flink.postgres-cdc.sql).

        ``precombine`` (strongly recommended: the changelog's LSN or
        ts_ms column) picks the LATEST change per key inside the batch —
        an upsert followed by a delete of the same key inside one batch
        nets to the delete, and vice versa.  ACROSS batches the same
        column guards against LATE/OUT-OF-ORDER events (WAL replays,
        merged topic partitions): when the target table stores the
        precombine column, a source event whose value is strictly below
        the stored row's is STALE and is ignored — the Hudi
        DefaultHoodieRecordPayload contract, and what makes a CDC mirror
        converge to source-database state regardless of arrival order
        (equal values apply, so exact redelivery stays idempotent).  On
        a target without the column (e.g. the pre-evolution first batch)
        there is nothing to compare — plain last-writer-wins merge."""
        if op_col not in source.columns:
            raise ValueError(f"apply_changes needs op column {op_col!r}")
        return self.merge(
            source,
            keys,
            precombine=precombine,
            extra=extra,
            op_col=op_col,
            delete_op=delete_op,
            drop_stale=True,
        )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        precombine: str | None = None,
        extra: dict | None = None,
        op_col: str | None = None,
        delete_op: str = "delete",
        drop_stale: bool = False,
    ) -> dict:
        """Keyed SCD1 upsert (MERGE): target rows matching a source key
        are replaced by the source row, unmatched source rows insert,
        everything else survives untouched — Delta/Hudi MERGE semantics
        on the snapshot layer.  With ``op_col`` set (see
        :meth:`apply_changes`) rows whose op equals ``delete_op`` DELETE
        their key instead of upserting — same probe, same single commit.

        Dir-granular copy-on-write: one column-pruned probe scan finds
        the live dirs that actually hold a matched key (semi-join against
        the broadcast source key set — the source is the small side by
        assumption, as in any incremental upsert); ONLY those dirs are
        read back and rewritten alongside the source rows.  A 100 TB
        table with a batch touching one day's dirs reads and rewrites
        one day, never the table.  Source batches must be unique per
        key; ``precombine`` (column name) resolves duplicates by
        greatest value (row-hash tiebreak), the Hudi precombine-field
        contract — without it duplicate keys raise.  ``drop_stale``
        (used by :meth:`apply_changes`) extends the contract ACROSS
        batches: when the target stores the precombine column, a source
        row strictly below the stored row's value is ignored and the
        stored row survives untouched (late-event protection; equal
        values apply, so redelivery is idempotent; a NULL on either
        side disables the comparison and the source wins).

        Concurrency: the rewrite set is computed against the parent
        version, so ANY intervening commit invalidates it — a lost race
        raises :class:`SnapshotConflictError` deterministically
        (serializable MERGE, no silent lost updates); retry on the new
        table state."""
        latest = self.latest_version()
        if not latest:
            raise ValueError(f"no committed versions at {self.root}")
        parent0 = self.manifest(latest)
        schema0 = StructType.fromJson(json.loads(parent0["schema"]))
        for k in keys:
            if k not in source.columns or k not in {f.name for f in schema0.fields}:
                raise ValueError(f"merge key {k!r} missing from source or target")
        # the op column is changelog METADATA, never part of the payload —
        # schema evolution and the written rows both exclude it
        payload = source.drop(op_col) if op_col else source
        self._check_schema_evolution(parent0, payload)

        if precombine:
            source = latest_per_key(source, keys, precombine)
            # the deduplicated source and its key set have several
            # consumers, and the key count picks the join strategy
            source = cut_lineage(source, eager=True)
            src_keys = cut_lineage(source.select(*keys).distinct(), eager=True)
            n_keys = src_keys.count()
            key_lits = None
        else:
            # ONE key-grouped pass answers all three guard questions —
            # duplicate keys?, how many keys?, and the key set itself —
            # where the old shape paid a dedicated dup-check aggregate,
            # an eager source checkpoint, an eager distinct checkpoint
            # AND a count (5 scheduler jobs of guards before any real
            # work).  Lazy checkpoints materialize inside the one
            # full-scan stats aggregate.
            source = cut_lineage(source, eager=False)
            key_counts = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__kn"))
                .transform(cut_lineage, eager=False)
            )
            key_lits = None
            if len(keys) == 1:
                # daily-batch fast path (the dedup_index ISIN idiom): a
                # key set that fits plan literals turns the probe
                # semi-join and the survivor anti-join into NARROW
                # filters — no broadcast-build job per consumer.  The
                # limit-collect is the exact bound; an oversized batch
                # falls through to the stats aggregate (which also
                # finishes materializing the lazy checkpoints).
                head = key_counts.limit(
                    self.ISIN_KEYS_MAX + 1
                ).collect()  # bounded-driver: ≤ ISIN_KEYS_MAX+1 narrow key rows
                if len(head) <= self.ISIN_KEYS_MAX and all(
                    r[keys[0]] is not None for r in head
                ):
                    if any(int(r["__kn"]) > 1 for r in head):
                        raise ValueError(
                            f"merge source has duplicate rows per key "
                            f"{keys}; pass precombine to resolve them"
                        )
                    key_lits = sorted(r[keys[0]] for r in head)
                    n_keys = len(key_lits)
            if key_lits is None:
                stats_row = key_counts.agg(
                    F.count(F.lit(1)).alias("n_keys"),
                    F.coalesce(
                        F.sum((F.col("__kn") > 1).cast("long")), F.lit(0)
                    ).alias("n_dup"),
                ).first()
                if int(stats_row["n_dup"]):
                    raise ValueError(
                        f"merge source has duplicate rows per key {keys}; "
                        "pass precombine to resolve them"
                    )
                n_keys = int(stats_row["n_keys"])
            src_keys = key_counts.select(*keys)
        if op_col:
            # delete keys participate in the probe (their dirs must be
            # rewritten without those rows) but contribute no output rows
            upserts = source.where(
                ~F.coalesce(F.col(op_col) == F.lit(delete_op), F.lit(False))
            ).drop(op_col)
        else:
            upserts = source
        # broadcast the key set only while it plausibly fits an executor;
        # a bulk backfill merge beyond that degrades to a shuffled
        # semi/anti join — slower but correct, never an OOM (same
        # regime split Delta's merge makes)
        key_side = (
            F.broadcast(src_keys) if n_keys <= 5_000_000 else src_keys
        )

        # probe: which live dirs hold a matched key?  Column-pruned scan
        # (keys only) + broadcast semi-join; dir identity via file path.
        # A cloned table's live set spans multiple data roots — the
        # extract tries each base (longest first, so no base that is a
        # prefix of another can shadow it) and takes the first match.
        import re as _re

        ext0 = parent0.get("external") or {}
        bases = sorted(
            {ext0.get(d, self.data_dir) for d in parent0["live"]},
            key=len,
            reverse=True,
        )
        dv0 = self._dv_frame(parent0)
        target = self._read_dirs(
            parent0["live"], schema0, parent0["partition_cols"], ext0,
            with_meta=True,
        )
        if dv0 is not None:
            target = target.join(
                F.broadcast(dv0), ["__snap_fp", "__snap_ri"], "left_anti"
            )
        dir_expr = F.coalesce(
            *[
                F.nullif(
                    F.regexp_extract(
                        F.col("__snap_fp"), f"{_re.escape(b)}/(.+)/[^/]+$", 1
                    ),
                    F.lit(""),
                )
                for b in bases
            ],
            F.lit(""),
        )
        probed = target.withColumn("__dir", dir_expr)
        if key_lits is not None:
            # narrow literal filter — no broadcast-build job; NULL target
            # keys yield NULL isin, filtered exactly like the semi-join
            probed = probed.where(F.col(keys[0]).isin(key_lits))
        else:
            probed = probed.join(key_side, keys, "left_semi")
        hit_dirs = sorted(
            r["__dir"]
            for r in probed.select("__dir").distinct().collect()
        )
        survivors = self._read_dirs(
            hit_dirs, schema0, parent0["partition_cols"], ext0,
            with_meta=True,
        )
        if dv0 is not None:
            survivors = survivors.join(
                F.broadcast(dv0), ["__snap_fp", "__snap_ri"], "left_anti"
            )
        surv_rows = survivors.drop("__snap_fp", "__snap_ri")
        if key_lits is not None:
            # anti-join semantics on literals: NULL-keyed target rows
            # survive (an anti join keeps them — NULL matches nothing)
            survivors = surv_rows.where(
                F.coalesce(~F.col(keys[0]).isin(key_lits), F.lit(True))
            )
        else:
            survivors = surv_rows.join(key_side, keys, "left_anti")
        stale_guard = (
            drop_stale
            and precombine is not None
            and precombine in {f.name for f in schema0.fields}
        )
        if stale_guard:
            # late-event protection: a stored row strictly NEWER than
            # its source event keeps ALL its rows and the source row is
            # dropped.  stale_keys is bounded by the source key set, so
            # it rides the same broadcast/shuffle regime as key_side.
            src_pc = source.select(
                *keys, F.col(precombine).alias("__src_pc")
            )
            if n_keys <= 5_000_000:
                src_pc = F.broadcast(src_pc)
            stale_keys = (
                surv_rows.join(src_pc, keys)
                .where(F.col(precombine) > F.col("__src_pc"))
                .select(*keys)
                .distinct()
                .transform(cut_lineage, eager=True)  # two consumers below
            )
            stale_side = (
                F.broadcast(stale_keys) if n_keys <= 5_000_000 else stale_keys
            )
            survivors = survivors.unionByName(
                surv_rows.join(stale_side, keys, "left_semi")
            )
            upserts = upserts.join(stale_side, keys, "left_anti")
        # additive evolution: new source columns read NULL from survivors
        for f in upserts.schema.fields:
            if f.name not in {x.name for x in schema0.fields}:
                survivors = survivors.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        merged = survivors.select(*upserts.columns).unionByName(upserts)

        return self._commit_staged(
            "apply_changes" if op_col else "merge",
            merged,
            lambda *_: hit_dirs,
            extra,
            base=latest,
        )

    def _delete_scope(self, where: list[tuple]):
        """The shared front of both DELETEs: validate ``where``
        ([(col, op, value), …], op in <, <=, >, >=, =) and return the
        latest version, its manifest and schema, the live dirs whose
        stats do not exclude the predicate, and the predicate as one
        Column (the AND of the conditions)."""
        import operator as _op

        conds = {"<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge, "=": _op.eq}
        for _, op, _v in where:
            if op not in conds:
                raise ValueError(f"unsupported delete op {op!r}")
        latest = self.latest_version()
        if not latest:
            raise ValueError(f"no committed versions at {self.root}")
        parent0 = self.manifest(latest)
        schema0 = StructType.fromJson(json.loads(parent0["schema"]))
        candidates = [
            d for d in parent0["live"]
            if self._dir_survives(parent0["stats"].get(d), where, parent0["rows"].get(d))
        ]
        pred = None
        for col, op, val in where:
            cond = conds[op](F.col(col), F.lit(val))
            pred = cond if pred is None else (pred & cond)
        return latest, parent0, schema0, candidates, pred

    def delete_where(
        self, where: list[tuple], extra: dict | None = None
    ) -> dict:
        """Copy-on-write DELETE: drop every row matching ALL ``where``
        conditions ([(col, op, value), …], op in <, <=, >, >=, =).

        Manifest-stats pruned: a dir whose [min, max] range provably
        excludes the predicate is untouched (same ``_dir_survives``
        pruning as ``read(where=…)``); only possibly-matching dirs are
        read back, filtered, and rewritten.  Deleting one day from a
        time-keyed 100 TB table rewrites that day's dirs.  Rows where
        the predicate is NULL are KEPT (SQL DELETE semantics).

        Concurrency: serializable like :meth:`merge` — intervening
        commits raise :class:`SnapshotConflictError`."""
        latest, parent0, schema0, candidates, pred = self._delete_scope(where)
        survivors = self._read_state(parent0, candidates, schema0).where(
            ~F.coalesce(pred, F.lit(False))
        )
        return self._commit_staged(
            "delete", survivors, lambda *_: list(candidates), extra, base=latest
        )

    def write_audit_publish(
        self,
        df: DataFrame,
        checks: list[str],
        mode: str = "append",
        extra: dict | None = None,
    ) -> dict:
        """WAP (write-audit-publish, the Iceberg staging pattern): stage
        the batch's files, AUDIT them with SQL predicates evaluated over
        the staged data exactly as written (not the input plan — what
        the files actually contain is what readers will see), and only
        then publish the manifest.  A failed check deletes the staged
        dirs and raises ``ValueError`` with per-check violation counts;
        readers never observe the bad data because visibility IS the
        manifest.

        ``checks``: SQL boolean expressions every row must satisfy,
        e.g. ``["id is not null", "amount >= 0"]``.  Cost: the staged
        write plus ONE aggregate scan of the staged files (all checks
        counted in a single pass).  Like every staged commit, the
        publish re-audits the staged files for CHECK constraints added
        since the stage."""
        latest = self.latest_version()
        parent = self.manifest(latest) if latest else None
        pby = self._resolve_partition_by(parent, None)
        self._check_schema_evolution(parent, df)
        constraints = dict((parent or {}).get("constraints") or {})
        commit, dirs = self._stage(df, pby, latest + 1, constraints)
        staged = self._read_dirs(dirs, df.schema, pby) if dirs else df.limit(0)
        counts = staged.agg(
            *[
                F.sum(
                    F.when(~F.coalesce(F.expr(c), F.lit(False)), 1).otherwise(0)
                ).alias(f"c{i}")
                for i, c in enumerate(checks)
            ]
        ).first()
        violations = {
            checks[i]: int(counts[f"c{i}"] or 0) for i in range(len(checks))
        }
        bad = {c: n for c, n in violations.items() if n > 0}
        if bad:
            self.fs.delete(f"{self.data_dir}/{commit}")
            raise ValueError(f"write_audit_publish rejected: {bad}")

        def build(parent_m, version):
            self._recheck_constraints(
                {"dirs": dirs, "constraints": constraints}, parent_m, df.schema, pby
            )
            m = self._base_manifest(
                version, parent_m, f"wap_{mode}", df, pby, extra
            )
            m["added"] = dirs
            if mode == "append":
                m["live"] = (parent_m["live"] if parent_m else []) + dirs
            elif mode == "overwrite":
                m["live"] = list(dirs)
                m["removed"] = parent_m["live"] if parent_m else []
            else:
                raise ValueError(f"wap mode {mode!r} (append|overwrite)")
            self._merge_stats(m, parent_m, dirs)
            return m

        return self._commit_loop(build)

    def compact(self, target_mb: int = 128) -> dict:
        """OPTIMIZE: rewrite the CURRENT live set as one fresh commit —
        append-heavy / streaming snapshot tables accumulate one commit
        dir per micro-batch, and every read pays the per-dir listing +
        per-file open cost.  The rewrite rides an AQE rebalance on the
        partition columns with the advisory partition size pinned to
        ``target_mb`` (one coherent file run per partition, hot
        partitions still split).  Old versions stay time-travelable
        until vacuum; readers see the compacted layout atomically."""
        latest = self.latest_version()
        if not latest:
            raise ValueError(f"no committed versions at {self.root}")
        pby = self.manifest(latest)["partition_cols"]
        df = self.read(version=latest)
        if pby:
            df = df.hint("rebalance", *pby)
        advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        prev = self.spark.conf.get(advisory, None)
        try:
            self.spark.conf.set(advisory, str(target_mb * (1 << 20)))
            return self.overwrite(
                df,
                partition_by=pby,
                extra={"operation": "compact", "compacted_from": latest},
            )
        finally:
            if prev is None:
                self.spark.conf.unset(advisory)
            else:
                self.spark.conf.set(advisory, prev)

    def version_at(self, as_of: float) -> int:
        """Newest surviving version with commit ts <= ``as_of``."""
        v = max(
            (x for x in self.existing_versions()
             if self.manifest(x)["ts"] <= as_of),
            default=None,
        )
        if v is None:
            raise ValueError(f"no version at or before ts={as_of}")
        return v

    def rollback(self, version: int) -> dict:
        """RESTORE: commit a NEW version whose live set is version N's —
        history rolls forward (the bad versions stay inspectable until
        vacuum), exactly Delta's RESTORE semantics."""
        old = self.manifest(version)

        def build(parent, new_version):
            m = dict(old)
            m.update(
                version=new_version,
                parent=parent["version"] if parent else None,
                operation=f"rollback_to_v{version}",
                ts=self.fs.now(),
                added=[],
                removed=[],
                live=old["live"],
            )
            m.pop("batch_id", None)
            m.pop("stream_key", None)
            # replay protection must NOT rewind with the data: carry the
            # PARENT's (newest) stream state, not version N's
            m["streams"] = dict(self._streams_state(parent))
            return m

        return self._commit_loop(build)

    # ------------------------------------------------------------ streaming
    def last_committed_batch(self, stream_key: str = "stream") -> int | None:
        """Highest batch id committed for the stream — ONE latest-manifest
        read (the cumulative ``streams`` map), not an O(versions) log
        scan; survives vacuum because every commit carries it forward."""
        latest = self.latest_version()
        parent = self.manifest(latest) if latest else None
        return self._streams_state(parent).get(stream_key)

    def committed_batches(self, stream_key: str = "stream") -> set[int]:
        """Batch ids visible in SURVIVING manifests (introspection only —
        vacuumed versions drop out; the authoritative replay guard is
        ``last_committed_batch``, which vacuum cannot lose)."""
        return {
            m["batch_id"]
            for v in self.existing_versions()
            if (m := self.manifest(v)).get("stream_key") == stream_key
            and m.get("batch_id") is not None
        }

    def commit_batch(
        self,
        batch_id: int,
        df: DataFrame,
        mode: str = "append",
        stream_key: str = "stream",
    ) -> dict | None:
        """Idempotent foreachBatch sink: a batch id at or below the
        stream's last committed id is skipped (Structured Streaming batch
        ids are monotonic per query; a checkpoint restart re-delivers the
        LAST batch — the same ``txnAppId``/``txnVersion`` contract as
        Delta's idempotent writes), making the snapshot table an
        exactly-once sink over an at-least-once stream.  The guard is one
        latest-manifest read and survives vacuum.  Returns None on skip."""
        last = self.last_committed_batch(stream_key)
        if last is not None and int(batch_id) <= last:
            return None
        op = {
            "append": self.append,
            "overwrite": self.overwrite,
            "overwrite_partitions": self.overwrite_partitions,
        }[mode]
        return op(df, extra={"batch_id": int(batch_id), "stream_key": stream_key})

    # ---------------------------------------------------------------- reads
    @staticmethod
    def _dir_survives(
        stats: dict | None, where: list[tuple], rows: int | None = None
    ) -> bool:
        """Conservative stats pruning: drop a dir only when its
        ``[min, max, null_count]`` entries PROVABLY exclude the predicate
        (:func:`bounds_exclude`, with the dir row count for the
        ``not_null`` side); missing stats keep it."""
        for col, op, val in where:
            mn, mx, nulls = (stats or {}).get(col) or (None, None, None)
            if bounds_exclude(mn, mx, op, val, nulls, rows):
                return False
        return True

    def read(
        self,
        version: int | None = None,
        as_of: float | None = None,
        where: list[tuple] | None = None,
        partitions: dict[str, list] | None = None,
    ) -> DataFrame:
        """The table at a version (default: latest) or the newest version
        with commit ts ≤ ``as_of`` (epoch seconds).

        ``where`` — [(col, op, value), …] with op in <, <=, >, >=, =, in
        (value: a list for ``in``) —
        prunes live dirs against the manifest's per-dir min/max stats
        BEFORE Spark lists a single file (the same predicates must still
        be applied to the returned frame; manifest pruning is a superset
        guarantee, exactly like parquet row-group stats one level up).

        ``partitions`` — {col: [values…]} keeps only live dirs whose
        partition-path segment matches one of the values: manifest-level
        static partition pruning, so unmatched dirs are never even
        handed to Spark's file listing."""
        latest = self.latest_version()
        if not latest:
            raise ValueError(f"no committed versions at {self.root}")
        if as_of is not None:
            version = self.version_at(as_of)
        version = version or latest
        m = self.manifest(version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        live = m["live"]
        if where:
            unknown = [c for c, _, _ in where if c not in m["stats_cols"]]
            if unknown:
                raise ValueError(
                    f"no manifest stats for columns {unknown}; declare them "
                    "via stats_cols on create/overwrite"
                )
            live = [
                d
                for d in live
                if self._dir_survives(m["stats"].get(d), where, m["rows"].get(d))
            ]
        live = self._partition_dirs(m, live, partitions)
        return self._read_state(m, live, schema)

    def _read_dirs(
        self,
        dirs: list[str],
        schema: StructType,
        part_cols: list[str],
        external: dict[str, str] | None = None,
        with_meta: bool = False,
    ) -> DataFrame:
        """Scan exactly ``dirs`` (relative to data/, or to their
        ``external`` base for shallow-clone entries) under the pinned
        manifest schema; empty dir set yields an empty typed frame.
        Dirs group by base (one scan per base, basePath pinned so the
        ``commit=``/partition path segments parse identically) and
        union — a non-clone table is always the single-scan fast path."""
        if not dirs:
            out = self.spark.createDataFrame([], schema)
            if with_meta:
                out = out.withColumn("__snap_fp", F.lit(None).cast("string")) \
                    .withColumn("__snap_ri", F.lit(None).cast("long"))
            return out
        external = external or {}
        by_base: dict[str, list[str]] = {}
        for d in sorted(dirs):
            by_base.setdefault(external.get(d, self.data_dir), []).append(d)
        parts = []
        cols = [f.name for f in schema.fields]
        if with_meta:
            cols = cols + ["__snap_fp", "__snap_ri"]
        for base, ds in sorted(by_base.items()):
            p = (
                self.spark.read.option("basePath", base)
                .schema(self._read_schema(schema, part_cols))
                .parquet(*[f"{base}/{d}" for d in ds])
            )
            if with_meta:
                p = p.withColumn(
                    "__snap_fp",
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:/+", "/"
                    ),
                ).withColumn("__snap_ri", F.col("_metadata.row_index"))
            parts.append(p.drop("commit"))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.select(*cols)

    @staticmethod
    def _read_schema(schema: StructType, part_cols: list[str]) -> StructType:
        """Scan schema: data columns first, then partition columns, then
        the synthetic ``commit`` path column — pinning it avoids a
        schema-inference pass over the footers on every read."""
        from pyspark.sql.types import StringType, StructField

        data_fields = [f for f in schema.fields if f.name not in part_cols]
        part_fields = [f for f in schema.fields if f.name in part_cols]
        return StructType(
            data_fields + part_fields + [StructField("commit", StringType())]
        )

    # ---------------------------------------------------------- deletion vectors
    def _dv_frame(self, m: dict):
        """Union of the manifest's live deletion-vector files as a
        (``__snap_fp``, ``__snap_ri``) frame, or None.  DV files are tiny
        relative to data (O(deleted rows)); the anti-join broadcasts."""
        dvs = m.get("dvs") or []
        if not dvs:
            return None
        ext = m.get("external") or {}
        paths = []
        for dv in dvs:
            d = dv["dir"]
            base = ext.get(d, self.data_dir)
            paths.append(f"{base}/{d}")
        return (
            self.spark.read.schema("file_path string, pos long")
            .parquet(*sorted(paths))
            .select(
                F.regexp_replace("file_path", "^file:/+", "/").alias("__snap_fp"),
                F.col("pos").alias("__snap_ri"),
            )
        )

    def _read_state(
        self, m: dict, dirs: list[str], schema: StructType
    ) -> DataFrame:
        """``dirs`` under manifest ``m`` with deletion vectors APPLIED —
        the one true row-visibility read every consumer (read, merge,
        delete, compact-via-read) goes through."""
        dv = self._dv_frame(m)
        if dv is None:
            return self._read_dirs(
                dirs, schema, m["partition_cols"], m.get("external")
            )
        df = self._read_dirs(
            dirs, schema, m["partition_cols"], m.get("external"),
            with_meta=True,
        )
        return df.join(
            F.broadcast(dv), ["__snap_fp", "__snap_ri"], "left_anti"
        ).drop("__snap_fp", "__snap_ri")

    def delete_where_dv(self, where: list[tuple], extra: dict | None = None) -> dict:
        """DELETE via a DELETION VECTOR — the merge-on-read alternative
        to :meth:`delete_where`'s copy-on-write: instead of rewriting
        every possibly-matching dir, ONE tiny parquet of
        (file_path, row position) is committed and every read
        anti-joins it.  Cost is O(matched rows) written and a broadcast
        anti-join per read — on a 100 TB table a one-in-a-million
        delete costs kilobytes, not a dir rewrite.  ``compact()``
        applies and clears DVs (the materialize step); the Delta and
        Iceberg exports carry live DVs through (as real Delta DVs /
        Iceberg position-delete files), the Hudi export requires a
        compact() first.

        Serializable like :meth:`delete_where`: an intervening commit
        raises :class:`SnapshotConflictError`."""
        if not where:
            raise ValueError(
                "delete_where_dv requires at least one (col, op, value) "
                "condition; an unconditional delete should use overwrite"
            )
        latest, parent0, schema0, candidates, pred = self._delete_scope(where)
        # matched rows' positions, with any EXISTING DVs already applied
        # (double-deleting a row would corrupt counts)
        dv_prev = self._dv_frame(parent0)
        matched = self._read_dirs(
            candidates, schema0, parent0["partition_cols"],
            parent0.get("external"), with_meta=True,
        ).where(F.coalesce(pred, F.lit(False)))
        if dv_prev is not None:
            matched = matched.join(
                F.broadcast(dv_prev), ["__snap_fp", "__snap_ri"], "left_anti"
            )
        dv_df = matched.select(
            F.col("__snap_fp").alias("file_path"),
            F.col("__snap_ri").alias("pos"),
        ).transform(cut_lineage, eager=True)  # counted, then written
        n_deleted = dv_df.count()
        if n_deleted == 0:
            # nothing matched: an empty-target DV entry would persist
            # forever (no target dir can ever die) and tax every later
            # read with a pointless DV-file scan — commit metadata-only
            # (version still advances; callers see a normal manifest).
            # DISTINCT op name: changes() refuses ranges crossing a
            # "delete_dv" commit, and a no-op delete must not poison the
            # change feed over its range forever (ADVICE r6 #3)
            out = self._metadata_commit("delete_dv_noop", lambda m, p: None)
            out["deleted_rows"] = 0
            return out

        staged: dict = {}

        def build(parent, version):
            if parent["version"] != latest:
                raise SnapshotConflictError(
                    f"delete_dv computed against v{latest} but v"
                    f"{parent['version']} committed concurrently; retry"
                )
            if "dir" not in staged:
                commit = f"commit={version}-dv-{_uuid.uuid4().hex[:12]}"
                dv_df.write.mode("error").parquet(
                    f"{self.data_dir}/{commit}"
                )
                staged["dir"] = commit
            m = self._base_manifest(
                version, parent, "delete_dv", dv_df, parent["partition_cols"],
                extra,
            )
            # schema must stay the TABLE schema, not the DV schema
            m["schema"] = parent["schema"]
            m["live"] = list(parent["live"])
            self._merge_stats(m, parent, [])
            m["dvs"] = m.get("dvs", []) + [
                {
                    "dir": staged["dir"],
                    "rows": int(n_deleted),
                    "targets": list(candidates),
                }
            ]
            return m

        out = self._commit_loop(build)
        out["deleted_rows"] = int(n_deleted)
        return out

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        allow_rewrites: bool = False,
    ) -> DataFrame:
        """Change data feed: the NET row changes between two versions as
        one DataFrame with a ``_change_type`` column (``insert`` |
        ``delete``) — the hook an incremental downstream consumer polls
        instead of re-diffing two full table reads.

        Manifest-powered: net inserts live in ``to.live − from.live``
        dirs, net deletes in ``from.live − to.live`` — only those dirs
        are scanned, so consuming a day of appends from a 100 TB table
        reads a day of data.  A dir added and removed inside the range
        cancels out entirely (never read).

        ``compact`` commits rewrite data without changing it; a range
        crossing one would surface the rewrite as delete+insert noise,
        so it raises unless ``allow_rewrites=True`` (Delta's
        dataChange=false semantics, enforced instead of silently
        polluting the feed).  A range whose deletion vectors change
        raises too (see :func:`check_change_range`)."""
        to_version = to_version or self.latest_version()
        if not 1 <= from_version <= to_version:
            raise ValueError("from_version must be >= 1 and <= to_version")
        m_frm, m_to = check_change_range(
            self.manifest, set(self.existing_versions()), from_version,
            to_version, allow_rewrites, applies_dvs=True,
        )
        frm = set(m_frm["live"])
        to = set(m_to["live"])
        schema = StructType.fromJson(json.loads(m_to["schema"]))

        def read_dirs(m: dict, dirs: set[str], change: str) -> DataFrame:
            # read through _read_state so live DVs carried by the
            # ENDPOINT manifest (committed before from_version) are
            # applied — rows already deleted by delete_where_dv must
            # not surface in the feed
            return self._read_state(
                m, sorted(dirs), schema
            ).withColumn("_change_type", F.lit(change))

        return read_dirs(m_to, to - frm, "insert").unionByName(
            read_dirs(m_frm, frm - to, "delete")
        )

    # --------------------------------------------------------------- vacuum
    def vacuum(
        self,
        retain_versions: int = 1,
        min_age_seconds: float = _ORPHAN_MIN_AGE_S,
        dry_run: bool = False,
    ) -> dict:
        """Physically delete data dirs referenced ONLY by versions older
        than the retained window (latest ``retain_versions`` versions
        stay time-travelable), plus orphaned commit dirs from failed
        commits.  Old manifests for dropped versions are deleted too;
        every manifest carries the cumulative per-stream batch ids, so
        exactly-once streaming replay protection survives.
        ``retain_versions`` must be at least 1.

        Two distinct delete classes, guarded differently:

        - a dir referenced by SOME surviving-or-deleted manifest but no
          retained one: provably committed-then-expired — deleted
          immediately (only time travel to vacuumed versions is lost);
        - a dir NO manifest has ever referenced: indistinguishable from a
          CONCURRENT writer's staged-but-uncommitted commit dir (the
          stage happens before the manifest lands), so it is deleted
          only when older than ``min_age_seconds`` — default 24h, cf.
          Delta's VACUUM retention.  Pass 0 explicitly (single-writer
          test/dev) to reap young orphans.

        ``dry_run=True`` reports exactly what WOULD go (counts + paths)
        without touching anything — run it before the real vacuum, the
        operational habit every destructive maintenance op deserves."""
        if retain_versions < 1:
            raise ValueError(
                f"retain_versions must be >= 1 (got {retain_versions}); "
                "the latest manifest is the table"
            )
        existing = self.existing_versions()
        latest = max(existing, default=0)
        keep_from = max(1, latest - retain_versions + 1)
        referenced: set[str] = set()  # by a RETAINED version
        ever: set[str] = set()  # by ANY surviving manifest
        for v in existing:
            m = self.manifest(v)
            ever.update(m["live"])
            ever.update(m["added"])
            ever.update(dv["dir"] for dv in m.get("dvs", []))
            if v >= keep_from:
                referenced.update(m["live"])
                referenced.update(dv["dir"] for dv in m.get("dvs", []))
        ref_commits = {d.split("/", 1)[0] for d in referenced}
        ever_commits = {d.split("/", 1)[0] for d in ever}

        deleted_dirs = 0
        doomed_paths: list[str] = []
        now = self.fs.now()
        for commit in self.fs.list_names(self.data_dir):
            cpath = f"{self.data_dir}/{commit}"
            if commit not in ref_commits:
                committed_expired = commit in ever_commits
                if committed_expired or now - self.fs.mtime(cpath) >= min_age_seconds:
                    doomed_paths.append(cpath)
                    if not dry_run:
                        self.fs.delete(cpath)
                    deleted_dirs += 1
                continue
            # commit partially live (dynamic overwrite replaced some
            # partitions): drop only its dead partition dirs
            part_depth = len(self.manifest(latest)["partition_cols"])
            if part_depth:
                for leaf in self.fs.leaf_dirs(cpath, part_depth):
                    rel = f"{commit}/{leaf}"
                    if rel not in referenced:
                        doomed_paths.append(f"{cpath}/{leaf}")
                        if not dry_run:
                            self.fs.delete(f"{cpath}/{leaf}")
                        deleted_dirs += 1

        doomed = [v for v in existing if v < keep_from]
        removed_manifests = 0
        for v in doomed:
            if not dry_run:
                self.fs.delete(self._manifest_path(v))
            removed_manifests += 1
        return {
            "deleted_dirs": deleted_dirs,
            "deleted_manifests": removed_manifests,
            "retained_from_version": keep_from,
            "dry_run": dry_run,
            "paths": sorted(doomed_paths),
        }
