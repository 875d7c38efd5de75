"""Streaming source/sink table configuration.

YAML shape (the Spark-native re-expression of the reference's Flink
connector YAML, test/sample_etl.flink_tables_file.yml)::

    sources:
      - name: events_stream
        format: rate            # rate | parquet | json | csv | kafka | socket
                                # | snapshot_cdf (options: root, …)
        options: {rowsPerSecond: "50"}
        schema: "a int, b string"      # required for file formats
        event_time: {name: ts, from: epoch_s}   # derive a timestamp col
        watermark: {column: ts, delay: "10 seconds"}   # optional extension
    sinks:
      - name: out1
        format: parquet         # parquet | memory | console | kafka | noop
        path: /tmp/out1
        checkpoint: /tmp/ck1
        output_mode: append     # append | update | complete
        trigger: availableNow   # availableNow | "N seconds" | continuous

Every source registers as a temp view so step SQL reads it like any table;
state stays inside Spark's streaming state store (RocksDB-able via conf) —
nothing driver-side grows with the stream.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class SinkConfig:
    name: str
    format: str = "noop"
    path: str | None = None
    checkpoint: str | None = None
    output_mode: str = "append"
    trigger: str | None = "availableNow"
    options: dict[str, str] = field(default_factory=dict)


class StreamingTables:
    def __init__(self, spark: SparkSession, config: dict) -> None:
        self.spark = spark
        self.config = config or {}
        self.sinks: dict[str, SinkConfig] = {}
        for s in self.config.get("sinks", []):
            self.sinks[s["name"]] = SinkConfig(
                name=s["name"],
                format=s.get("format", "noop"),
                path=s.get("path"),
                checkpoint=s.get("checkpoint"),
                output_mode=s.get("output_mode", "append"),
                trigger=s.get("trigger", "availableNow"),
                options=dict(s.get("options", {})),
            )

    @classmethod
    def from_yaml(cls, spark: SparkSession, path: str) -> "StreamingTables":
        import yaml

        with open(path, encoding="utf-8") as f:
            return cls(spark, yaml.safe_load(f))

    def register_sources(self) -> list[str]:
        names = []
        for src in self.config.get("sources", []):
            df = self._read_source(src)
            df.createOrReplaceTempView(src["name"])
            names.append(src["name"])
        return names

    def _read_source(self, src: dict) -> DataFrame:
        fmt = src.get("format", "rate")
        reader = self.spark.readStream.format(fmt)
        if "schema" in src and fmt not in ("rate", "kafka", "socket"):
            reader = reader.schema(src["schema"])
        for k, v in src.get("options", {}).items():
            reader = reader.option(k, str(v))
        if "path" in src:
            reader = reader.option("path", src["path"])
        df = reader.load()
        cdc = src.get("cdc")
        if cdc:
            # changelog decode (reference's postgres-cdc connector analog,
            # flink.py:339): raw Debezium-JSON envelopes → typed changelog
            # frame with __op/__ts_ms/__seq; pair with a `snapshot_cdc`
            # sink (or any MERGE-capable foreach_batch ETL) to apply
            envelope = cdc.get("envelope", "debezium-json")
            if envelope != "debezium-json":
                raise ValueError(
                    f"source {src.get('name')}: unsupported cdc envelope "
                    f"{envelope!r} (supported: debezium-json)"
                )
            from .cdc import decode_debezium

            df = decode_debezium(
                df, cdc["schema"], value_col=cdc.get("value_col", "value")
            )
        et = src.get("event_time")
        if et:
            # derive the event-time column BEFORE the watermark applies —
            # sources often carry epoch seconds/millis, and a watermark
            # must name an existing timestamp column
            from pyspark.sql import functions as F

            source_col = et.get("from", et["name"])
            df = df.withColumn(
                et["name"], F.col(source_col).cast("timestamp")
            )
        wm = src.get("watermark")
        if wm:
            df = df.withWatermark(wm["column"], wm["delay"])
        dd = src.get("dedup")
        if dd:
            # declarative streaming dedup: with a watermark, state for a
            # key is dropped once the watermark passes it (bounded state —
            # the only dedup that survives an unbounded stream); without
            # one, keys accumulate forever and we refuse rather than OOM
            # a production job months in
            keys = list(dd["keys"])
            if dd.get("within_watermark", True):
                if not wm:
                    raise ValueError(
                        f"source {src.get('name')}: dedup.within_watermark "
                        "requires a watermark on the source"
                    )
                df = df.dropDuplicatesWithinWatermark(keys)
            else:
                df = df.dropDuplicates(keys)
        return df

    def start_insert(self, df: DataFrame, sink_name: str):
        """Start one streaming insert into a configured sink; returns the
        StreamingQuery."""
        sink = self.sinks.get(sink_name)
        if sink is None:
            # default sink: noop with trigger availableNow (dry pipes)
            sink = SinkConfig(name=sink_name)
        if sink.format == "foreach_batch":
            return self._start_foreach_batch(df, sink)
        if sink.format == "snapshot":
            return self._start_snapshot(df, sink)
        if sink.format == "snapshot_cdc":
            return self._start_snapshot_cdc(df, sink)
        writer = df.writeStream.format(sink.format).outputMode(sink.output_mode)
        if sink.path:
            writer = writer.option("path", sink.path)
        if sink.checkpoint:
            writer = writer.option("checkpointLocation", sink.checkpoint)
        for k, v in sink.options.items():
            writer = writer.option(k, str(v))
        if sink.format == "memory":
            # memory sink registers a temp view — single-part names only
            writer = writer.queryName(sink_name.replace(".", "_"))
        if sink.trigger == "availableNow":
            writer = writer.trigger(availableNow=True)
        elif sink.trigger == "continuous":
            writer = writer.trigger(continuous="1 second")
        elif sink.trigger:
            writer = writer.trigger(processingTime=sink.trigger)
        return writer.start()

    def _start_snapshot(self, df: DataFrame, sink: SinkConfig):
        """``snapshot`` sink: exactly-once commits into a versioned
        snapshot table (runtime/snapshots.py) — each micro-batch lands as
        one manifest commit carrying its batch id, so checkpoint-restart
        replays are skipped idempotently.  Options: ``mode`` (append |
        overwrite | overwrite_partitions, default append),
        ``partition_by`` (``a|b``, first commit only), ``stream_key``."""
        from ..runtime.snapshots import SnapshotTable

        if not sink.path:
            raise ValueError(f"snapshot sink {sink.name} needs `path`")
        table = SnapshotTable(self.spark, sink.path)
        mode = sink.options.get("mode", "append")
        stream_key = sink.options.get("stream_key", sink.name)
        pby = [
            c for c in sink.options.get("partition_by", "").split("|") if c
        ] or None

        def _commit(batch_df: DataFrame, batch_id: int) -> None:
            if not table.latest_version():
                # first-ever commit: create the table AND record the batch
                # id in the same manifest, or a restart before the stream
                # checkpoint lands would re-apply batch 0
                table.overwrite(
                    batch_df,
                    partition_by=pby,
                    extra={"batch_id": int(batch_id), "stream_key": stream_key},
                )
                return
            table.commit_batch(
                batch_id, batch_df, mode=mode, stream_key=stream_key
            )

        writer = df.writeStream.foreachBatch(_commit)
        if sink.checkpoint:
            writer = writer.option("checkpointLocation", sink.checkpoint)
        if sink.trigger == "availableNow":
            writer = writer.trigger(availableNow=True)
        elif sink.trigger:
            writer = writer.trigger(processingTime=sink.trigger)
        return writer.start()

    def _start_snapshot_cdc(self, df: DataFrame, sink: SinkConfig):
        """``snapshot_cdc`` sink: apply a decoded changelog stream (see
        ``streaming/cdc.py`` — columns ``__op``/``__ts_ms``/``__seq``)
        to a versioned snapshot table, one atomic
        ``SnapshotTable.apply_changes`` commit per micro-batch: upserts
        replace/insert, deletes vanish, batch ids ride the manifest so
        checkpoint-restart replays are skipped (exactly-once apply over
        the at-least-once stream).

        Options: ``keys`` (``a|b``, required), ``precombine`` (default
        ``__seq`` — the LSN order the decoder emits), ``stream_key``,
        ``partition_by`` (first commit only)."""
        from pyspark.sql import functions as F

        from ..runtime.snapshots import SnapshotTable, latest_per_key

        if not sink.path:
            raise ValueError(f"snapshot_cdc sink {sink.name} needs `path`")
        keys = [k for k in sink.options.get("keys", "").split("|") if k]
        if not keys:
            raise ValueError(
                f"snapshot_cdc sink {sink.name} needs `keys` in options "
                "(pipe-separated primary-key columns)"
            )
        precombine = sink.options.get("precombine", "__seq")
        stream_key = sink.options.get("stream_key", sink.name)
        pby = [
            c for c in sink.options.get("partition_by", "").split("|") if c
        ] or None
        table = SnapshotTable(self.spark, sink.path)

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            last = table.last_committed_batch(stream_key)
            if last is not None and int(batch_id) <= last:
                return  # checkpoint-restart replay: already applied
            extra = {"batch_id": int(batch_id), "stream_key": stream_key}
            if not table.latest_version():
                # first-ever commit: seed from the batch's net upserts
                # (latest change per key, deletes dropped), recording the
                # batch id in the SAME manifest — a restart before the
                # stream checkpoint lands must not re-apply batch 0.  The
                # winner per key is the one apply_changes would pick.
                seed = (
                    latest_per_key(batch_df, keys, precombine)
                    .where(F.col("__op") != "delete")
                    .drop("__op")
                )
                table.overwrite(seed, partition_by=pby, extra=extra)
                return
            table.apply_changes(
                batch_df, keys, op_col="__op", precombine=precombine,
                extra=extra,
            )

        writer = df.writeStream.foreachBatch(_apply)
        if sink.checkpoint:
            writer = writer.option("checkpointLocation", sink.checkpoint)
        if sink.trigger == "availableNow":
            writer = writer.trigger(availableNow=True)
        elif sink.trigger:
            writer = writer.trigger(processingTime=sink.trigger)
        return writer.queryName(sink.name.replace(".", "_")).start()

    def _start_foreach_batch(self, df: DataFrame, sink: SinkConfig):
        """``foreach_batch`` sink: run a step-language ETL per micro-batch —
        Structured Streaming's idiomatic escape hatch (arbitrary sinks,
        merges, multi-table writes), here carrying the FULL step language
        the way the reference's Flink statement sets carry SQL inserts.

        Sink config keys (``options``): ``etl`` (path to a ``.sql`` ETL
        file) or ``etl_sql`` (inline text); ``view`` (temp-view name the
        micro-batch registers as; default ``<sink>_batch``); ``vars`` (a
        mapping of extra ETL variables — e.g. state-table roots — made
        available as ``${name}``).  The ETL sees
        ``${__batch_id__}`` and runs ON THE DRIVER per batch — executors
        only see the DataFrame work the ETL declares, so state and
        parallelism behave exactly as in batch mode.

        With an output step in ``__save_mode__=upsert`` this is the
        streaming keyed-merge (CDC apply) path.  Note foreachBatch hands
        the ETL a CLONED session: a warehouse table it overwrites must be
        ``REFRESH TABLE``-ed by any OTHER session that cached it earlier
        (standard Spark cross-session metadata semantics; save_table
        refreshes its own session automatically)."""
        etl_path = sink.options.get("etl")
        etl_sql = sink.options.get("etl_sql")
        if not etl_path and not etl_sql:
            raise ValueError(
                f"foreach_batch sink `{sink.name}` needs an `etl` path or "
                f"`etl_sql` text in options"
            )
        if etl_path:
            with open(etl_path, encoding="utf-8") as f:
                etl_sql = f.read()
        # temp views take single-part names only — sanitize db.table sinks
        view = sink.options.get(
            "view", f"{sink.name.replace('.', '_')}_batch"
        )
        extra_vars = {
            str(k): str(v)
            for k, v in (sink.options.get("vars") or {}).items()
        }

        def _run_batch(batch_df: DataFrame, batch_id: int) -> None:
            from ..runtime.processor import SqlProcessor

            # foreachBatch hands the batch a CLONED session; the view and
            # the ETL must both live on it, not on the outer session
            batch_df.createOrReplaceTempView(view)
            SqlProcessor(
                batch_df.sparkSession,
                etl_sql,
                variables={"__batch_id__": str(batch_id), **extra_vars},
                logger=lambda m: None,
            ).run()

        writer = df.writeStream.foreachBatch(_run_batch)
        if sink.checkpoint:
            writer = writer.option("checkpointLocation", sink.checkpoint)
        if sink.trigger == "availableNow":
            writer = writer.trigger(availableNow=True)
        elif sink.trigger:
            writer = writer.trigger(processingTime=sink.trigger)
        return writer.queryName(sink.name.replace(".", "_")).start()
