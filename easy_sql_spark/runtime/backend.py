"""Spark backend: table management semantics of the step language.

Re-expresses the reference's Spark backend behaviors
(easy_sql/sql_processor/backend/spark.py) on modern Spark:

- temp/cache/broadcast views (spark.py:128-140)
- partition-aware saves: static/dynamic ``INSERT OVERWRITE`` with
  ``spark.sql.sources.partitionOverwriteMode=dynamic`` instead of the
  Hive-workaround the reference carries for Spark 2 (spark.py:267-293)
- auto table creation as a metadata-only parquet CREATE TABLE
  (spark.py:158-185)
- column alignment + schema verification (spark.py:187-220, 271-279)
- read-write-same-table lineage cut via ``cut_lineage`` (spark.py:295-309)
- temp-view lifecycle cleanup (spark.py:116-121, 324-328)

All data movement is declarative SQL/DataFrame — Catalyst owns the physical
plan; nothing here collects data to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..operators.iterate import cut_lineage
from .snapshots import latest_per_key


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and map value nullable, at every
    nesting level — the schema a CTAS stores."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


@dataclass
class Partition:
    field: str
    value: object | None = None  # None => dynamic partition

    @property
    def is_dynamic(self) -> bool:
        return self.value is None or self.value == ""


@dataclass
class TableMeta:
    """``[catalog.]db.table`` plus partition spec."""

    name: str
    partitions: list[Partition] = field(default_factory=list)

    @classmethod
    def parse(cls, name: str, partitions: list[Partition] | None = None):
        parts = name.split(".")
        if len(parts) not in (2, 3):
            raise ValueError(f"table name must be [catalog.]db.table: {name!r}")
        return cls(name=name, partitions=partitions or [])

    @property
    def db(self) -> str:
        return self.name.split(".")[-2]

    @property
    def table(self) -> str:
        return self.name.split(".")[-1]

    def static_partitions(self) -> list[Partition]:
        return [p for p in self.partitions if not p.is_dynamic]

    def with_static_partitions(self, df: DataFrame) -> DataFrame:
        """``df`` plus a literal column for each static partition value
        it lacks (reference spark.py:269-284)."""
        for p in self.static_partitions():
            if p.field not in df.columns:
                df = df.withColumn(p.field, F.lit(p.value))
        return df

    def partition_cols(self) -> list[str]:
        return [p.field for p in self.partitions]


class SchemaMismatchError(RuntimeError):
    pass


class SparkBackend:
    """The single backend of this engine (the reference's Backend interface
    collapses: base.py:21-120 → one Spark implementation)."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._temp_views: list[str] = []
        #: callbacks invoked around save_table (reference spark.py:222-243):
        #: fn(event, table_name) with event in {"start", "end"}
        self.save_hooks: list = []

    # ----------------------------------------------------------------- udfs
    def init_scala_udfs(self, scala_udf_initializer: str) -> None:
        """Call ``<class>.initUdfs(sparkSession)`` on a JVM class via py4j
        (reference backend/spark.py:89-97) — the session-init hook for
        Scala/Java UDF jars shipped with ``--jars``.

        Raises a descriptive error when the class is absent from the
        session's classpath instead of an opaque py4j traceback.
        """
        from py4j.java_gateway import java_import

        gw = self.spark.sparkContext._gateway  # type: ignore[attr-defined]
        java_import(gw.jvm, scala_udf_initializer)
        target = gw.jvm
        for part in scala_udf_initializer.split("."):
            target = getattr(target, part)
        try:
            target.initUdfs(self.spark._jsparkSession)  # type: ignore[attr-defined]
        except TypeError as e:
            raise RuntimeError(
                f"scala_udf_initializer class not found on the session "
                f"classpath (add its jar via spark.jars): "
                f"{scala_udf_initializer}"
            ) from e

    # ------------------------------------------------------------------ sql
    def exec_sql(self, sql: str) -> DataFrame:
        return self.spark.sql(sql)

    def exec_native_sql(self, sql: str) -> None:
        """DDL / side-effect statements (action step, prepare-sql)."""
        self.spark.sql(sql)

    # ---------------------------------------------------------------- views
    def create_temp_view(self, df: DataFrame, name: str) -> None:
        df.createOrReplaceTempView(name)
        self._temp_views.append(name)

    def create_cached_view(self, df: DataFrame, name: str) -> None:
        df.createOrReplaceTempView(name)
        self.spark.catalog.cacheTable(name)
        self._temp_views.append(name)

    def create_broadcast_view(self, df: DataFrame, name: str) -> None:
        F.broadcast(df).createOrReplaceTempView(name)
        self._temp_views.append(name)

    def temp_tables(self) -> list[str]:
        """Current temp views in the session catalog (reference
        spark.py:116-121)."""
        return [
            t.name for t in self.spark.catalog.listTables() if t.isTemporary
        ]

    def clear_temp_tables(self, exclude: list[str] | None = None) -> None:
        keep = set(exclude or [])
        for name in self.temp_tables():
            if name not in keep:
                try:
                    self.spark.catalog.dropTempView(name)
                except Exception:
                    pass
        self._temp_views = [v for v in self._temp_views if v in keep]

    def clear_cache(self) -> None:
        try:
            self.spark.catalog.clearCache()
        except Exception:
            pass

    def clean_temp_views(self) -> None:
        for name in self._temp_views:
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
        self._temp_views.clear()
        try:
            self.spark.catalog.clearCache()
        except Exception:
            pass

    # --------------------------------------------------------------- tables
    def table_exists(self, table: TableMeta) -> bool:
        return self.spark.catalog.tableExists(table.name)

    def table_columns(self, name: str) -> tuple[list[tuple[str, str]], list[str]]:
        """((column, simple type) in catalog order, partition column
        names) straight from the session catalog's table metadata via
        py4j — pure driver-side.  ``spark.catalog.listColumns`` builds
        and collects a Dataset per call: measured ~7 scheduler jobs /
        0.25-1.5 s on this machine, and save_table used to pay it three
        times per save (schema verify, partition refresh, column
        alignment).  Falls back to listColumns for catalogs the internal
        API cannot describe (e.g. temp views)."""
        try:
            jspark = self.spark._jsparkSession
            ident = jspark.sessionState().sqlParser().parseTableIdentifier(name)
            ct = jspark.sessionState().catalog().getTableMetadata(ident)
            pseq = ct.partitionColumnNames()
            parts = [pseq.apply(i) for i in range(pseq.size())]
            cols = [
                (f.name(), f.dataType().simpleString())
                for f in ct.schema().fields()
            ]
            return cols, parts
        except Exception:
            listed = self.spark.catalog.listColumns(name)
            return (
                [(c.name, str(c.dataType).lower()) for c in listed],
                [c.name for c in listed if c.isPartition],
            )

    def refresh_table_partitions(self, table: TableMeta) -> None:
        """Re-derive partition columns from the catalog so later saves use
        the real partitioning (reference spark.py:312-322)."""
        if not self.table_exists(table):
            return
        _, part_cols = self.table_columns(table.name)
        if part_cols:
            known = {p.field: p for p in table.partitions}
            table.partitions = [
                known.get(c, Partition(field=c)) for c in part_cols
            ]

    def create_table_like_query(self, df: DataFrame, table: TableMeta) -> None:
        """Create an empty parquet table with the query's schema, partition
        columns last (reference spark.py:158-185), by a metadata-only
        ``CREATE TABLE (<ddl>)`` that runs no job.  Every field is made
        nullable at every nesting level, the schema a CTAS would store."""
        part_cols = table.partition_cols()
        fields = {f.name: f for f in _nullable(df.schema).fields}
        schema = StructType(
            [f for c, f in fields.items() if c not in part_cols]
            + [fields[c] for c in part_cols]
        )
        partitioned = (
            f" PARTITIONED BY ({', '.join(_quote(c) for c in part_cols)})"
            if part_cols
            else ""
        )
        try:
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {table.name} ({schema.toDDL()}) "
                f"USING PARQUET{partitioned}"
            )
        except Exception as e:
            # IF NOT EXISTS checks the catalog, but the create validates
            # the LOCATION separately — a creator that lost a create race
            # (the winner registered the table between our check and our
            # validation) surfaces LOCATION_ALREADY_EXISTS instead of the
            # intended no-op.  Honor the no-op when the table IS registered
            # by now; an unregistered stale directory stays a hard error
            # (adopting orphaned files silently would hide data).
            if "LOCATION_ALREADY_EXISTS" in str(e) and self.table_exists(
                table
            ):
                pass
            else:
                raise

    def evolve_schema(self, df: DataFrame, table: TableMeta) -> None:
        """Schema evolution (``__merge_schema__``): columns present in the
        source but absent from the target are ADDED to the target (ALTER
        TABLE ADD COLUMNS — a metadata-only operation; existing files
        simply read NULL for the new columns).  Additive only: dropping or
        retyping columns stays a hard error, because silent narrowing is
        how warehouses lose data.  Partition columns cannot be added this
        way (that is a re-layout, not an evolution)."""
        target_cols = {c for c, _t in self.table_columns(table.name)[0]}
        part_cols = set(table.partition_cols())
        new_fields = [
            f for f in df.schema.fields
            if f.name not in target_cols and f.name not in part_cols
        ]
        if not new_fields:
            return
        cols_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in new_fields
        )
        self.spark.sql(f"ALTER TABLE {table.name} ADD COLUMNS ({cols_ddl})")
        self.spark.sql(f"REFRESH TABLE {table.name}")

    def verify_schema(
        self, df: DataFrame, table: TableMeta, check_types: bool = False
    ) -> None:
        """Target columns must all exist in the source; surplus source
        columns are dropped silently on save (reference spark.py:187-220)."""
        target_fields = dict(self.table_columns(table.name)[0])
        source_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = [c for c in target_fields if c not in source_fields]
        if missing:
            raise SchemaMismatchError(
                f"save to {table.name}: source query lacks target columns "
                f"{missing}; source has {sorted(source_fields)}"
            )
        if check_types:
            mismatched = {
                c: (source_fields[c], target_fields[c])
                for c in target_fields
                if target_fields[c]
                and source_fields[c] != str(target_fields[c]).lower()
            }
            if mismatched:
                raise SchemaMismatchError(
                    f"save to {table.name}: column type mismatches {mismatched}"
                )

    def create_bucketed_table(
        self,
        df: DataFrame,
        table: TableMeta,
        bucket_cols: list[str],
        n_buckets: int,
        save_mode: str = "overwrite",
    ) -> None:
        """Write a bucketed (+sorted) parquet table — the layout that lets
        two fact tables join WITHOUT a shuffle (Catalyst elides both
        exchanges when bucket specs match).  At 100 TB this is the single
        biggest cost lever for repeated fact-fact joins; see SCALE.md."""
        (
            df.write.mode(save_mode)
            .format("parquet")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .saveAsTable(table.name)
        )

    def prepare_for_insert(self, df: DataFrame, table: TableMeta) -> DataFrame:
        """Align columns to the target's order (surplus source columns
        dropped) and, for partitioned targets, AQE-rebalance on the
        partition columns — co-locates each partition's rows (one writer
        task per value instead of every task emitting files for every
        value, the small-files explosion), while AQE still SPLITS a hot
        partition across tasks and coalesces tiny ones (plain
        ``repartition(cols)`` can do neither).  Measured 2.2× on the
        sf0.1 partitioned-overwrite bench; a no-op hint when AQE is off."""
        target_cols = [c for c, _t in self.table_columns(table.name)[0]]
        aligned = df.select(*[F.col(_quote(c)) for c in target_cols])
        part_cols = table.partition_cols()
        if part_cols:
            aligned = aligned.hint("rebalance", *part_cols)
        return aligned

    # ----------------------------------------------------------------- save
    def save_table(
        self,
        df: DataFrame,
        table: TableMeta,
        save_mode: str = "overwrite",
        create_table: bool = False,
        merge_keys: list[str] | None = None,
        precombine: str | None = None,
        scd2: dict | None = None,
        bloom_cols: list[str] | None = None,
        merge_schema: bool = False,
        zorder_cols: list[str] | None = None,
        layout_curve: str = "zorder",
    ) -> None:
        """Materialize a query into a warehouse table.

        Static partition values are injected as literal columns when absent
        (reference spark.py:269-284); the write is always a dynamic-partition
        insert under ``partitionOverwriteMode=dynamic`` — at scale this only
        rewrites the partitions present in the data, exactly the semantics
        the reference emulates around SPARK-31605.

        ``save_mode="upsert"`` with ``merge_keys`` is the keyed MERGE the
        reference expresses through Hudi/CDC sinks
        (reference backend/flink.py:196-204, test/sample_etl.flink.postgres-
        cdc.sql:35-37): SCD1 copy-on-write — matched target rows are
        replaced by incoming rows, unmatched incoming rows insert, and
        untouched target rows survive.  See ``_merge_upsert_frame`` for the
        partition-pruned plan.
        """
        for hook in self.save_hooks:
            hook("start", table.name)
        if save_mode.lower() == "scd2":
            if not merge_keys:
                raise ValueError(
                    "__save_mode__=scd2 requires __merge_keys__ "
                    "(the natural/business key, e.g. id or id|region)"
                )
            df = self._augment_scd2(df, scd2 or {})
        df = table.with_static_partitions(df)

        if not self.table_exists(table):
            if not create_table:
                raise RuntimeError(
                    f"target table {table.name} does not exist and "
                    "__create_output_table__ is not set"
                )
            self.create_table_like_query(df, table)
        else:
            self.refresh_table_partitions(table)
            if merge_schema:
                self.evolve_schema(df, table)
        self.verify_schema(df, table)

        if save_mode.lower() == "upsert":
            if not merge_keys:
                raise ValueError(
                    "__save_mode__=upsert requires __merge_keys__ "
                    "(e.g. __merge_keys__=id or id|dt)"
                )
            df = self._merge_upsert_frame(df, table, merge_keys, precombine)
            overwrite = True
        elif save_mode.lower() == "scd2":
            df = self._merge_scd2_frame(df, table, merge_keys, scd2 or {})
            overwrite = True
        else:
            overwrite = save_mode.lower() != "append"
        aligned = self.prepare_for_insert(df, table)
        if zorder_cols:
            aligned = self._zorder_for_insert(
                aligned, table, zorder_cols, curve=layout_curve
            )

        # parquet bloom filters: point-lookup pushdown on non-sorted,
        # non-partition columns (id/hash lookups against a fact table at
        # scale).  The option must ride the hadoop conf — DataFrameWriter
        # options don't reach the parquet writer through insertInto.
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        bloom_keys: list[str] = []
        for spec in bloom_cols or []:
            col, _, ndv = spec.partition(":")
            hconf.set(f"parquet.bloom.filter.enabled#{col}", "true")
            bloom_keys.append(f"parquet.bloom.filter.enabled#{col}")
            if ndv:
                hconf.set(f"parquet.bloom.filter.expected.ndv#{col}", ndv)
                bloom_keys.append(f"parquet.bloom.filter.expected.ndv#{col}")
        try:
            aligned.write.insertInto(table.name, overwrite=overwrite)
        except Exception as e:  # read-write same table: break lineage, retry
            if "Cannot overwrite" in str(e) or "is also being read" in str(e):
                cut_lineage(aligned, eager=True).write.insertInto(
                    table.name, overwrite=overwrite
                )
            else:
                raise
        finally:
            for k in bloom_keys:
                hconf.unset(k)
        if overwrite:
            # an overwrite replaces files under the table path; REFRESH
            # clears the (app-shared) file-status cache so OTHER sessions —
            # e.g. the main session after a foreachBatch clone wrote — don't
            # read the stale listing and hit FILE_NOT_EXIST
            try:
                self.spark.sql(f"REFRESH TABLE {table.name}")
            except Exception:
                pass
        for hook in self.save_hooks:
            hook("end", table.name)

    def _merge_upsert_frame(
        self,
        df: DataFrame,
        table: TableMeta,
        merge_keys: list[str],
        precombine: str | None = None,
    ) -> DataFrame:
        """Build the merged frame for a keyed SCD1 upsert and eagerly
        cut its lineage (the target is both read and overwritten — the
        cut breaks that lineage once, before the write starts).

        Partition-pruned copy-on-write: only partitions TOUCHED by the batch
        are read back and rewritten — touched = partitions present in the
        incoming rows ∪ partitions holding a matched key (keys may move
        between partitions; discovering those costs one column-pruned scan
        of (merge keys + partition cols) semi-joined against the batch's
        keys, the parquet-level analogue of Hudi's index lookup).  Under
        ``partitionOverwriteMode=dynamic`` the final insert then rewrites
        exactly the touched partitions; a 100 TB table with a 1-partition
        batch reads and writes one partition, not the table.  The scoped
        target streams past the batch's keys in a (broadcast) anti-join,
        so a NULL key never matches a target row.

        Incoming batches must be unique per merge key; ``precombine``
        (a column name) resolves duplicates by keeping the row with the
        greatest precombine value (ties broken by a row hash) — the Hudi
        precombine-field contract.  Without it, a per-key count over the
        written batch rows raises inside the eager cut, so a batch with
        duplicate keys fails before anything is written.
        """
        target = self.spark.table(table.name)
        for k in merge_keys:
            if k not in target.columns or k not in df.columns:
                raise ValueError(
                    f"merge key {k!r} missing from "
                    f"{'target' if k not in target.columns else 'source'}"
                )
        keys = list(merge_keys)
        batch = df.select(*target.columns)
        dup_msg = (
            f"upsert batch has duplicate rows per merge key {keys}; "
            "set __upsert_precombine__ to resolve them"
        )
        if precombine:
            incoming = latest_per_key(batch, keys, precombine)
        else:
            dup = F.count(F.lit(1)).over(Window.partitionBy(*keys)) > 1
            k0 = F.when(dup, F.raise_error(dup_msg)).otherwise(F.col(keys[0]))
            incoming = batch.withColumn(keys[0], k0)
        # probed by semi/anti joins only, so duplicates need no distinct
        inc_keys = batch.select(*keys)
        scoped = self._scope_touched_partitions(
            target, incoming, inc_keys, keys, table.partition_cols()
        )
        kept = scoped.join(inc_keys, keys, "left_anti")
        # the target is read here and then overwritten by the caller
        return cut_lineage(kept.unionByName(incoming), eager=True)

    @staticmethod
    def _scope_touched_partitions(
        target: DataFrame,
        incoming: DataFrame,
        inc_keys: DataFrame,
        keys: list[str],
        part_cols: list[str],
    ) -> DataFrame:
        """Restrict a merge's copy-on-write to TOUCHED partitions: those the
        incoming rows land in plus those holding a matched key (keys can
        move between partitions).  Costs one column-pruned scan of
        (partition cols + keys); under dynamic partition overwrite the
        untouched partitions are then never read or rewritten — the
        parquet-level analogue of Hudi's index lookup."""
        if not part_cols:
            return target
        touched = incoming.select(*part_cols).distinct()
        scan_cols = list(dict.fromkeys([*part_cols, *keys]))
        matched_parts = (
            target.select(*scan_cols)
            .join(inc_keys, keys, "left_semi")
            .select(*part_cols)
            .distinct()
        )
        touched = touched.unionByName(matched_parts).distinct()
        return target.join(F.broadcast(touched), part_cols, "left_semi")

    def _zorder_for_insert(
        self, aligned: DataFrame, table: TableMeta, zorder_cols: list[str],
        curve: str = "zorder",
    ) -> DataFrame:
        """Curve-cluster the rows of an insert (``__zorder_by__`` /
        ``__layout_curve__``): the written files get parquet min/max
        stats tight in EVERY listed column (multi-dimensional data
        skipping; see operators/zorder.py and operators/hilbert.py —
        ``hilbert`` measures tighter boxes at the same write cost in the
        2-3-column regime, SCALE.md).  Replaces the AQE rebalance
        ordering.

        Unpartitioned targets take ``zorder.curve_clustered`` — the layout
        ``write_zordered`` writes: one hash shuffle on the curve prefix,
        no sampling pass and no cut.  Partitioned targets take a range
        layout led by the partition columns, so dynamic overwrite still
        writes one coherent file run per partition while rows WITHIN each
        partition cluster on the curve position (a prefix hash would
        spread each partition value over up to n files)."""
        from ..operators.zorder import curve_clustered, zorder_value

        bits = 6
        if curve == "hilbert" and len(zorder_cols) <= 2:
            from ..operators.hilbert import hilbert_value

            zdf = hilbert_value(aligned, zorder_cols, bits).withColumnRenamed(
                "__hvalue", "__zvalue"
            )
        elif curve not in ("zorder", "hilbert"):
            raise ValueError(f"unknown layout curve {curve!r}")
        else:
            # hilbert above 2 cols would blow the LUT at default bits;
            # morton handles any dimension count
            zdf = zorder_value(aligned, zorder_cols, bits)
        # floor the file count: with very few z-ranges a single range
        # regularly crosses a Morton quadrant boundary and its min/max
        # box degenerates to full-width in one dimension — 16+ ranges
        # keep the boxes compact even on small clusters
        n = max(self.spark.sparkContext.defaultParallelism, 16)
        part_cols = table.partition_cols()
        if not part_cols:
            return curve_clustered(zdf, "__zvalue", n, bits * len(zorder_cols))
        # the range-bound sampling job and the write both read the curve
        # values: compute them once
        zdf = cut_lineage(zdf, eager=True)
        range_cols = [F.col(c) for c in part_cols] + [F.col("__zvalue")]
        return (
            zdf.repartitionByRange(n, *range_cols)
            .sortWithinPartitions(*range_cols)
            .drop("__zvalue")
        )

    @staticmethod
    def _scd2_cols(scd2: dict) -> tuple[str, str, str, str]:
        return (
            scd2.get("ts") or "",
            scd2.get("start") or "__start_at",
            scd2.get("end") or "__end_at",
            scd2.get("current") or "__is_current",
        )

    def _augment_scd2(self, df: DataFrame, scd2: dict) -> DataFrame:
        """Add SCD2 metadata columns to an incoming batch: the effective
        timestamp column (``__scd2_ts__``) becomes the start column, the
        end column is NULL (open interval), and the current flag is true.
        The ts column is CONSUMED (it is the start column, not an
        attribute) — keeping it as a business column would make every
        batch look like an attribute change and churn history forever."""
        ts, start, end, cur = self._scd2_cols(scd2)
        if not ts:
            raise ValueError(
                "__save_mode__=scd2 requires __scd2_ts__ (the incoming "
                "column holding each row's effective timestamp)"
            )
        if ts not in df.columns:
            raise ValueError(f"__scd2_ts__ column {ts!r} missing from the batch")
        ts_type = dict(df.dtypes)[ts]
        out = df.withColumn(start, F.col(ts))
        if ts != start:
            out = out.drop(ts)
        return out.withColumn(end, F.lit(None).cast(ts_type)).withColumn(
            cur, F.lit(True)
        )

    def _merge_scd2_frame(
        self,
        df: DataFrame,
        table: TableMeta,
        merge_keys: list[str],
        scd2: dict,
    ) -> DataFrame:
        """Type-2 slowly-changing-dimension merge (keyed history keeping),
        the CDC-apply semantics one step past the SCD1 upsert: instead of
        replacing a matched row, the old version is CLOSED (end = new
        start, current = false) and the new version inserts as current —
        reference analogue: the Hudi/CDC streaming upserts
        (backend/flink.py:196-204) applied with history retention.

        Semantics per incoming key (after intra-batch collapse to the
        latest row by start ts):
        - new key → insert as current (open interval);
        - matched current row with DIFFERENT attributes → close it at the
          incoming start ts and insert the new version as current;
        - matched current row with IDENTICAL attributes → no-op, so
          re-running the same batch is idempotent and history never
          churns on no-change loads;
        - historical (non-current) rows are never read back for matching
          and survive untouched;
        - a key with any NULL part never matches: its latest batch row
          inserts and its current target rows stay.

        Plan: ONE ``Window.partitionBy(*keys)`` over the scoped target's
        current rows and the raw batch, so one shuffle on the keys.  Its
        row 1 is the batch row ``latest_per_key`` keeps; the window hands
        that row's start and hash to the key's current row (close or
        stay) and the current row's hash to it (insert or not; a key has
        at most one current row).  Historical rows skip the window.

        Attribute comparison is a null-safe md5 over every non-key,
        non-metadata column.  Batches are assumed to arrive in effective-
        ts order per key (the standard SCD2 loader contract); out-of-order
        history requires a rebuild, not a merge.  Same partition-pruned
        copy-on-write scoping as the SCD1 upsert."""
        _, start, end, cur = self._scd2_cols(scd2)
        target = self.spark.table(table.name)
        meta = {start, end, cur}
        for k in merge_keys:
            if k in meta:
                raise ValueError(f"merge key {k!r} collides with an SCD2 column")
            if k not in target.columns or k not in df.columns:
                raise ValueError(
                    f"merge key {k!r} missing from "
                    f"{'target' if k not in target.columns else 'source'}"
                )
        for c in meta:
            if c not in target.columns:
                raise ValueError(
                    f"SCD2 target {table.name} lacks column {c!r}; create it "
                    "through an scd2 save with __create_output_table__"
                )
        keys = list(merge_keys)
        batch = df.select(*target.columns)

        attr_cols = [c for c in target.columns if c not in meta and c not in keys]
        part_cols = table.partition_cols()
        attr_cols = [c for c in attr_cols if c not in part_cols] + [
            c for c in attr_cols if c in part_cols
        ]
        attr_hash = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
                    for c in attr_cols
                ],
            )
        )

        scoped = self._scope_touched_partitions(
            target, batch, batch.select(*keys), keys, part_cols
        )
        is_cur = F.coalesce(F.col(cur), F.lit(False))
        hist_rows = scoped.where(~is_cur)

        side = F.col("__side")
        # latest_per_key's order, with every batch row ahead of the current row
        row_md5 = F.md5(
            F.concat_ws("\x00", *[F.col(c).cast("string") for c in target.columns])
        )
        by_key = Window.partitionBy(*keys).orderBy(
            side.desc(), F.col(start).desc(), row_md5
        )
        whole_key = by_key.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        h = F.col("__hash")
        ranked = (
            scoped.where(is_cur)
            .withColumn("__side", F.lit(0))
            .unionByName(batch.withColumn("__side", F.lit(1)))
            .withColumn("__hash", attr_hash)
            .select(
                "*",
                F.row_number().over(by_key).alias("__rn"),
                F.first(F.when(side == 1, h)).over(whole_key).alias("__new_hash"),
                F.first(start).over(whole_key).alias("__new_start"),
                F.max(F.when(side == 0, h)).over(whole_key).alias("__cur_hash"),
            )
        )
        null_key = F.lit(False)
        for k in keys:
            null_key = null_key | F.col(k).isNull()
        cur_hash = F.col("__cur_hash")
        closes = (side == 0) & ~null_key & (F.col("__new_hash") != h)
        inserts = (
            (side == 1)
            & (F.col("__rn") == 1)
            & (null_key | cur_hash.isNull() | (cur_hash != h))
        )
        merged = (
            ranked.where((side == 0) | inserts)
            .withColumn(end, F.when(closes, F.col("__new_start")).otherwise(F.col(end)))
            .withColumn(cur, F.when(closes, F.lit(False)).otherwise(F.col(cur)))
            .select(*target.columns)
        )
        # target is read and overwritten
        return cut_lineage(hist_rows.unionByName(merged), eager=True)

    # ------------------------------------------------------------ compaction
    def table_file_stats(self, table_name: str) -> dict[str, dict]:
        """File count + bytes per partition spec ('' for unpartitioned),
        from scan metadata + driver-side FS stats — no job runs."""
        df = self.spark.table(table_name)
        sc = self.spark.sparkContext
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()
        stats: dict[str, dict] = {}
        for f in df.inputFiles():
            spec = "/".join(seg for seg in f.split("/")[:-1] if "=" in seg)
            path = jvm.org.apache.hadoop.fs.Path(f)
            size = path.getFileSystem(hconf).getFileStatus(path).getLen()
            s = stats.setdefault(spec, {"files": 0, "bytes": 0})
            s["files"] += 1
            s["bytes"] += size

        return stats

    def compact_table(
        self,
        table_name: str,
        target_mb: int = 128,
        min_files: int = 4,
    ) -> dict:
        """Rewrite fragmented partitions of a parquet warehouse table into
        ~``target_mb`` files — the maintenance op every streaming/append
        sink needs at scale (micro-batches and per-task writers fragment
        partitions; scans then pay per-file open cost and lose locality).

        Spark-first plan: only partitions holding ≥ ``min_files`` files
        are READ BACK (broadcast semi-join on their partition values —
        healthy partitions are never read or rewritten, verifiable via
        ``inputFiles``), and the rewrite rides the same AQE-rebalanced
        dynamic-partition INSERT OVERWRITE as every output step, with the
        AQE advisory partition size pinned to ``target_mb`` for the write
        so coalescing targets the requested file size.  Unpartitioned
        tables rewrite wholesale into ``ceil(bytes/target)`` files by a
        shuffle-free ``coalesce`` that keeps the files' row order.

        Returns ``{"partitions_compacted": n, "files_before": a,
        "files_after": b}``.  Reference has no compaction op (Hudi's
        compactor fills the role there) — scale-mandated extension.
        """
        spark = self.spark
        part_cols = self.table_columns(table_name)[1]
        stats = self.table_file_stats(table_name)
        target_bytes = target_mb * (1 << 20)
        df = spark.table(table_name)

        if not part_cols:
            total = stats.get("", {"files": 0, "bytes": 0})
            if total["files"] < min_files:
                return {
                    "partitions_compacted": 0,
                    "files_before": total["files"],
                    "files_after": total["files"],
                }
            n_out = max(1, -(-total["bytes"] // target_bytes))
            # a narrow bin-pack of the scan's splits in file order: no
            # shuffle, and a clustered table's row order survives.  The
            # target is read and overwritten.
            compacted = cut_lineage(df.coalesce(n_out), eager=True)
            compacted.write.insertInto(table_name, overwrite=True)
            spark.sql(f"REFRESH TABLE {table_name}")
            return {
                "partitions_compacted": 1,
                "files_before": total["files"],
                "files_after": len(spark.table(table_name).inputFiles()),
            }

        fragmented = {
            spec: s for spec, s in stats.items() if s["files"] >= min_files
        }
        if not fragmented:
            return {
                "partitions_compacted": 0,
                "files_before": sum(s["files"] for s in stats.values()),
                "files_after": sum(s["files"] for s in stats.values()),
            }
        # decode partition values from the path specs into a broadcast frame
        rows = []
        for spec in fragmented:
            vals = {}
            for seg in spec.split("/"):
                k, _, v = seg.partition("=")
                vals[k] = unquote(v)
            rows.append(tuple(vals.get(c) for c in part_cols))
        from ..datasets import arrow_frame, inline_frame

        mk = inline_frame if len(rows) <= 256 else arrow_frame
        sel = mk(spark, rows, ", ".join(f"{c} string" for c in part_cols))
        cond = [df[c].cast("string") == sel[c] for c in part_cols]
        scoped = (
            df.alias("t")
            .join(F.broadcast(sel), cond, "left_semi")
            .transform(cut_lineage, eager=True)  # target is read and overwritten
        )
        advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        prev = spark.conf.get(advisory, None)
        try:
            spark.conf.set(advisory, str(target_bytes))
            scoped.hint("rebalance", *part_cols).write.insertInto(
                table_name, overwrite=True
            )
        finally:
            if prev is None:
                spark.conf.unset(advisory)
            else:
                spark.conf.set(advisory, prev)
        spark.sql(f"REFRESH TABLE {table_name}")
        after = self.table_file_stats(table_name)
        return {
            "partitions_compacted": len(fragmented),
            "files_before": sum(s["files"] for s in stats.values()),
            "files_after": sum(s["files"] for s in after.values()),
        }

    def zorder_table(
        self, table_name: str, zorder_cols: list[str], curve: str = "zorder"
    ) -> int:
        """OPTIMIZE-ZORDER maintenance: rewrite an EXISTING table with its
        rows z-order-clustered on ``zorder_cols`` (see _zorder_for_insert)
        — run after bulk loads to make multi-dimensional selective scans
        stats-skippable.  Returns the row count rewritten.  The whole
        table rewrites (clustering is a global property); to cluster only
        new data, use ``__zorder_by__`` on the writing step instead."""
        part_cols = self.table_columns(table_name)[1]
        meta = TableMeta.parse(
            table_name, [Partition(field=c) for c in part_cols]
        )
        # target is read and overwritten
        df = cut_lineage(self.spark.table(table_name), eager=True)
        n = df.count()
        clustered = self._zorder_for_insert(df, meta, zorder_cols, curve=curve)
        clustered.write.insertInto(table_name, overwrite=True)
        self.spark.sql(f"REFRESH TABLE {table_name}")
        return n

    # ----------------------------------------------------- partition probes
    def list_partitions(self, table_name: str) -> list[str]:
        """SHOW PARTITIONS values (first partition column), sorted.  Used by
        the partition function library (reference funcs_spark.py:174-178)."""
        try:
            rows = self.spark.sql(f"SHOW PARTITIONS {table_name}").collect()
        except Exception:
            return []
        values = []
        for r in rows:
            spec = r[0]  # e.g. "dt=2021-01-01/hr=00"
            first = spec.split("/")[0]
            values.append(first.split("=", 1)[1])
        return sorted(set(values))

    def partition_columns(self, table_name: str) -> list[str]:
        return self.table_columns(table_name)[1]
