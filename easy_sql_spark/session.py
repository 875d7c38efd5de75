"""SparkSession construction with the engine's tuning defaults.

Mirrors the session defaults the reference installs at launch
(easy_sql/spark_optimizer.py:30-58): AQE on, 128MB post-shuffle target,
dynamic-partition nonstrict — re-expressed with Spark 3/4-native conf names
(``partitionOverwriteMode=dynamic`` instead of the Hive workaround).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

#: Defaults applied when *we* build the session.  When the session is handed
#: to us (library mode / the driver's verify harness) we only apply the
#: runtime-settable subset via :func:`tune_session`.
SESSION_DEFAULTS = {
    # local mode runs executors inside the driver JVM: 32 task threads,
    # their sort/parquet-writer buffers, AND cached localCheckpoint blocks
    # all share one heap, and the 1g Java default OOMs under the write
    # benches at sf1.  On a real cluster spark-submit supplies memory
    # sizing and this key (only honored at JVM launch) is simply ignored.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "134217728",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime bloom-filter join pruning (Spark default, pinned): a
    # selective dim filter becomes a might_contain() filter on the fact
    # side of a shuffle join once the probe scan crosses the 10 GB
    # threshold — the 100 TB regime; plan-tested in
    # tests/test_plans.py::test_runtime_bloom_filter_prunes_big_probe_join
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # modern parquet timestamps (µs int64, not deprecated INT96): footer
    # min/max statistics are readable, which the snapshot layer's
    # footer-based commit stats depend on (INT96 carries no usable stats)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # reliable checkpoints (cut_lineage with a checkpoint dir) are
    # deleted once their frame is garbage-collected; off by default, so
    # each cut would otherwise stay on the distributed FS for good
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}

# Conf keys that are safe to set on a live session.
_RUNTIME_SETTABLE = {
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.sources.partitionOverwriteMode",
    "spark.sql.parquet.outputTimestampType",
}


def build_session(
    app_name: str = "easy_sql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster the master comes
    from spark-submit and this arg is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(SESSION_DEFAULTS)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    register_data_sources(spark)
    return spark


def ship_package(spark: SparkSession) -> str | None:
    """Make ``easy_sql_spark`` importable on executor Python workers.

    Executor-side code paths — hudi log-block decode
    (``sources/hudi_log.py``), puffin DV slicing (``sources/puffin.py``),
    distributed manifest parsing (``sources/iceberg_meta.py``), the
    codec mapInPandas operators — are cloudpickled BY REFERENCE, so the
    worker process must be able to ``import easy_sql_spark.…`` itself.
    When the driver's cwd is the repo root that works by accident (cwd
    is on ``sys.path`` and workers inherit it); from any other cwd the
    tasks die with ModuleNotFoundError.  The reference solves this by
    being pip-installed (reference ``pyproject.toml``); we ship a zip of
    the package through ``sc.addPyFile`` at session build — the
    canonical Spark mechanism, it reaches every current AND
    later-joining executor, and ``addPyFile`` also prepends the zip to
    the driver's own ``sys.path``.

    Idempotent per SparkContext; returns the zip path (None if already
    shipped or the context is unavailable).
    """
    try:
        sc = spark.sparkContext
    except Exception:  # pragma: no cover - session without a live context
        return None
    if getattr(sc, "_easy_sql_spark_shipped", False):
        return None
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    # deterministic content-addressed path: many sessions on one host
    # reuse ONE zip per package state instead of leaking a temp dir per
    # SparkContext (r11 review fix); the hash covers file names, sizes
    # and mtimes, so editing the package produces a fresh zip
    import hashlib

    entries = []
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        rel_dir = os.path.relpath(dirpath, os.path.dirname(pkg_root))
        for fname in sorted(filenames):
            if not fname.endswith(".py"):
                continue
            full = os.path.join(dirpath, fname)
            st = os.stat(full)
            entries.append(
                (full, os.path.join(rel_dir, fname), st.st_size, st.st_mtime_ns)
            )
    digest = hashlib.sha256(
        repr([(e[1], e[2], e[3]) for e in entries]).encode()
    ).hexdigest()[:16]
    zip_path = os.path.join(
        tempfile.gettempdir(), f"easy_sql_spark_ship_{digest}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, arc, _sz, _mt in entries:
                zf.write(full, arc)
        os.replace(tmp, zip_path)  # atomic vs concurrent sessions
    sc.addPyFile(zip_path)
    sc._easy_sql_spark_shipped = True
    return zip_path


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine defaults to an existing session,
    and register the engine's Python data sources (``warc``,
    ``snapshot_cdf``) so reads work without per-script boilerplate."""
    for k in _RUNTIME_SETTABLE:
        try:
            spark.conf.set(k, SESSION_DEFAULTS[k])
        except Exception:  # pragma: no cover - conf locked down
            pass
    ship_package(spark)
    register_data_sources(spark)
    return spark


def register_data_sources(spark: SparkSession) -> None:
    """Idempotently register format("warc"), format("snapshot_cdf"),
    format("hudi_cdc"), and format("delta_cdf")."""
    try:
        from .sources.warc_source import WarcDataSource
        from .streaming.cdf_source import SnapshotChangeFeedDataSource
        from .streaming.delta_cdf_source import DeltaChangeFeedDataSource
        from .streaming.hudi_cdc_source import HudiCdcDataSource

        spark.dataSource.register(WarcDataSource)
        spark.dataSource.register(SnapshotChangeFeedDataSource)
        spark.dataSource.register(HudiCdcDataSource)
        spark.dataSource.register(DeltaChangeFeedDataSource)
    except Exception:  # pragma: no cover - API absent on old runtimes
        pass
