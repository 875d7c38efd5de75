"""Loading the driver's parquet testdata as DataFrames / temp views.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under ``{sf_dir}/{name}.parquet``.

Reads go through ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and (on partitioned layouts) partition pruning for free.  At
cluster scale the same entry points accept directories of parquet files; no
code here assumes a single file.

A table stored as one file gets its schema from that file's footer, read
on the driver and handed to ``spark.read.schema(...)``, so loading it
launches no Spark job (left to itself, ``spark.read.parquet`` runs a
one-task job just to read that footer).  The footer is converted by
Spark's own ``ParquetFileFormat.readSchemaFromFooter`` and
``ParquetToSparkSchemaConverter`` under the session's SQL conf, so the
result is the schema Spark would infer for that file: the stored
Spark-schema key, ``nanosAsLong``, NTZ inference and ``binaryAsString``
all apply.  A directory of part files is left to Spark's own listing and
inference, so its summary files, ``mergeSchema`` and partition columns
behave as Spark defines them.  The schema is read fresh on every call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``{sf_dir}/{name}.parquet`` as a DataFrame.  When that path is one
    file, its schema is read from the file's footer on the driver (see
    :func:`parquet_file_schema`) and handed to ``spark.read.schema``, so no
    Spark job runs.  A directory of part files (or a missing path) goes
    through Spark's own listing and inference, as ``spark.read.parquet``
    does.  Some testdata generations store ``events.ts`` as
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects; reading
    nanos as bigint is ordering-equivalent and a no-op on timestamp[us]
    data, so the conf is set unconditionally (a cheap runtime conf that
    covers the driver's own session) and before the footer is converted."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_file_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _jclass(spark: SparkSession, name: str):
    # a JVM class by its full name, bound without the gateway round trip
    # per package that a walk down ``spark._jvm.org.apache...`` costs
    from py4j.java_gateway import JavaClass

    return JavaClass(name, spark._jvm._gateway_client)


def parquet_file_schema(spark: SparkSession, path: str):
    """The Spark schema of the single parquet file at ``path``, read from
    its footer on the driver with Spark's own footer reader and schema
    converter under the session's SQL conf.  For one file this is the
    schema Spark's inference gives, ``mergeSchema`` on or off.  Read fresh
    on every call.

    None when ``path`` is not a regular file (a directory, or missing), or
    when its name is one Spark's file listing hides (a leading ``_`` or
    ``.``, a ``._COPYING_`` suffix): the caller leaves those to Spark."""
    from pyspark.sql.types import _parse_datatype_json_string

    name = path.rstrip("/").rsplit("/", 1)[-1]
    if name.startswith(("_", ".")) or name.endswith("._COPYING_"):
        return None
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    if not jpath.getFileSystem(hconf).isFile(jpath):
        return None
    spark_pq = "org.apache.spark.sql.execution.datasources.parquet."
    parquet_mr = "org.apache.parquet."
    input_file = _jclass(
        spark, parquet_mr + "hadoop.util.HadoopInputFile").fromPath(
            jpath, hconf)
    skip_row_groups = _jclass(
        spark, parquet_mr + "format.converter.ParquetMetadataConverter"
    ).SKIP_ROW_GROUPS
    metadata = _jclass(spark, spark_pq + "ParquetFooterReader").readFooter(
        input_file, skip_row_groups)
    footer = _jclass(spark, parquet_mr + "hadoop.Footer")(jpath, metadata)
    converter = _jclass(
        spark, spark_pq + "ParquetToSparkSchemaConverter")(state.conf())
    file_format = _jclass(spark, spark_pq + "ParquetFileFormat")
    schema = file_format.readSchemaFromFooter(footer, converter)
    return _parse_datatype_json_string(schema.json())


def input_file_lengths(spark: SparkSession, files: list[str]):
    """Yield each file's length in bytes, one driver-side
    ``getFileStatus`` per file as the caller asks for it, so a caller
    that has seen enough stops stat-ing."""
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    for f in files:
        path = sc._jvm.org.apache.hadoop.fs.Path(f)
        yield path.getFileSystem(hconf).getFileStatus(path).getLen()


def spread(
    df: DataFrame, parallelism: int | None = None, min_bytes: int = 0
) -> DataFrame:
    """Round-robin repartition a coarsely-partitioned input before a
    CPU-heavy per-row expansion (explode / heavy hashing / Pandas UDF).

    Partition sizing by bytes (AQE's REBALANCE) keeps small-but-
    expansion-heavy inputs in one task — a 5 MB scan that explodes 200× is
    CPU-bound long before it is byte-bound.  This helper only shuffles when
    the scan has fewer than half the cluster's cores worth of splits, so at
    real scale (inputs with many splits) it is a no-op and costs nothing.

    ``min_bytes`` tunes the break-even for MODERATE per-row work (regex
    tokenization, signature folds — not codec/shingle-heavy stages): below
    it the serial scan is cheaper than the exchange barrier it would buy,
    so the coarse input is left alone.  Measured on local[32]: the
    round-robin exchange costs ~0.2-0.4 s of fixed stage overhead, which a
    <2 MB scan of such work cannot repay, while a 5 MB+ coarse scan repays
    it 2-4×.  Callers with truly heavy per-row work (media decode,
    3-gram shingling) keep the default 0 — for them the exchange always
    pays, even on sub-MB fixtures.

    Split count comes from driver-side scan metadata (``inputFiles`` plus
    file lengths against ``files.maxPartitionBytes``) — no ``df.rdd``
    conversion, so calling this never forces plan-to-RDD translation."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = parallelism or sc.defaultParallelism
    files = df.inputFiles()  # leaf-relation metadata; runs no job
    if len(files) * 2 > target:  # each file is at least one split
        return df
    if not files:
        # non-file source (inline/local relation): these are tiny; spread.
        return df.repartition(target)
    max_bytes = int(
        sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
    )
    splits = 0
    total = 0
    for size in input_file_lengths(spark, files):
        total += size
        splits += max(1, -(-size // max_bytes))
        if splits * 2 > target:  # already parallel enough; stop stat-ing
            return df
    if total < min_bytes:
        return df
    return df.repartition(target)


# break-even scan size for spread() under moderate per-row work; see
# the spread docstring for the measurement behind it
SPREAD_MODERATE = 2 << 20


def _as_struct(schema):
    from pyspark.sql import types as T

    if isinstance(schema, str):
        return T._parse_datatype_string(schema)
    return schema


def inline_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A SMALL driver-local table as a single-partition literal frame.

    ``spark.createDataFrame(rows)`` routes driver rows through pickled
    Python-RDD partitions: every evaluation (each broadcast build, each
    bench re-run) re-runs driver-side row verification plus a Python
    worker round-trip — measured 0.2-0.5 s for a 20-row frame and 4-6 s
    once a row carries an array column, on this class of machine.  For
    the inline dimension tables the queries join against, that is pure
    per-evaluation constant.  This helper builds the rows as ONE
    ``inline(array(struct(...)))`` projection over a single-row range:
    parsed once at plan build, evaluated JVM-side in microseconds, and
    its broadcast build is a single local task.

    ``rows``: list of tuples; ``schema``: DDL string or StructType.
    Values go through ``F.lit`` (no SQL-string escaping issues) and are
    cast to the declared type, so NULLs and doubles are exact.  Use for
    BOUNDED row counts (the rows live in the plan tree); for larger
    local results use :func:`arrow_frame`."""
    from pyspark.sql import functions as F

    st = _as_struct(schema)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    if not structs:
        return spark.createDataFrame([], st)
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def arrow_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-local table shipped through Arrow instead of pickled
    rows — the right vehicle when the row count is too large for
    :func:`inline_frame`'s plan-tree literals (guide: Arrow for driver
    transfers is orders of magnitude faster than the row path; measured
    here 5.5 s -> 0.25 s for a 50k-row two-column frame, PER
    evaluation).  Falls back to the classic path automatically when the
    session has Arrow disabled (correctness is unaffected).  The single
    ``coalesce(1)`` keeps tiny frames from occupying cluster-width
    partitions."""
    import pandas as pd

    st = _as_struct(schema)
    if not rows:
        return spark.createDataFrame([], st)
    pdf = pd.DataFrame(
        [tuple(r) for r in rows], columns=[f.name for f in st.fields],
        dtype=object,
    )
    return spark.createDataFrame(pdf, st).coalesce(1)


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view named after the table."""
    out = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
