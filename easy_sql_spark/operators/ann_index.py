"""Persistent, incrementally-ingestible IVF ANN index.

The similarity-search analogue of ``dedup_index``: instead of
brute-forcing the whole corpus per query batch (sim_topk_bruteforce —
O(corpus x queries)), keep the vectors in a snapshot table PARTITIONED
BY their IVF cell, so a search touches only the probed cells' files and
a daily vector batch appends without touching the rest.

- :meth:`create` trains the deterministic k-means coarse quantizer
  (operators/kmeans.py — fixed seeds, decimal means) on the seed batch
  and freezes the centroids in a sidecar next to the manifests
  (vacuum-proof); vectors land partitioned by ``cell``.
- :meth:`ingest` assigns new vectors to the FROZEN centroids — a narrow
  projection, no shuffle beyond the partitioned write — and appends;
  ``batch_id`` rides the snapshot layer's exactly-once commit protocol,
  so streaming ingest gets idempotent replays for free.
- :meth:`search` probes each query's ``nprobe`` nearest cells (query x
  K centroid scoring against a broadcast literal — tiny) and scans ONLY
  those cells: the cell equi-join + partition pruning turn a 100 TB
  corpus scan into nprobe/K of one, and no all-pairs join ever exists.

Recall is the IVF trade-off (a true neighbor in an unprobed cell is
missed); tests/test_ann_index.py pins a recall floor against the exact
brute-force top-k on the fixture.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..runtime.snapshots import SnapshotTable
from .kmeans import assign_clusters, centroids_sql, l2_norm, lloyd_kmeans

_CENTROIDS_FILE = "ivf_centroids.json"


class IVFIndex:
    """IVF-partitioned vector store at a snapshot-table root.  Vector
    frames need (``vec_id`` long, ``v`` array<double>)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.table = SnapshotTable(spark, root)

    # ----------------------------------------------------------- lifecycle
    def create(self, vectors: DataFrame, k: int = 16, iters: int = 2) -> None:
        """Train the coarse quantizer on the seed batch and write it
        cell-partitioned.  Raises if the index already exists."""
        if self.table.latest_version():
            raise ValueError(f"IVF index already exists at {self.table.root}")
        cents = lloyd_kmeans(vectors, k, iters)
        self.table.fs.mkdirs(self.table.manifest_dir)
        ok = self.table.fs.create_atomic(
            f"{self.table.manifest_dir}/{_CENTROIDS_FILE}",
            json.dumps(cents).encode(),
        )
        if not ok:
            raise ValueError(f"IVF index already exists at {self.table.root}")
        self.table.create(
            assign_clusters(vectors, cents, out_col="cell"),
            partition_by=["cell"],
        )

    def centroids(self) -> list[list[float]]:
        return json.loads(
            self.table.fs.read_bytes(
                f"{self.table.manifest_dir}/{_CENTROIDS_FILE}"
            )
        )

    def ingest(self, vectors: DataFrame, batch_id: int | None = None) -> None:
        """Append a vector batch under the frozen centroids (narrow
        assignment, partitioned write — O(batch)).  ``batch_id`` makes
        replays idempotent (snapshot commit protocol)."""
        assigned = assign_clusters(vectors, self.centroids(), out_col="cell")
        if batch_id is not None:
            self.table.commit_batch(batch_id, assigned)
        else:
            self.table.append(assigned)

    #: probe batches at/below this re-emit as a parsed literal (~0.15s
    #: per evaluation); larger ones go through Arrow ``createDataFrame``
    #: (~0.25s for 50k rows) to bound plan size.  The PICKLED-row
    #: ``createDataFrame`` path is never used: measured 4-6s PER
    #: EVALUATION for a 15-row array<double> frame on this machine
    #: (driver-side row verification + per-row py4j conversion).
    _PROBE_LITERAL_MAX = 1024

    def _probe_frame(self, rows, qv_type) -> DataFrame:
        """Collected probe rows re-emitted as a SINGLE-partition local
        frame whose every evaluation is cheap: the candidate join's
        broadcast build AND the scan's dynamic-pruning subquery each
        re-evaluate this frame, so a driver-row ``createDataFrame``
        (pickled rows through a Python worker per evaluation) is the
        wrong vehicle.  Small batches become one parsed
        ``inline(named_struct(...))`` literal over a single-row range;
        ``repr(float)`` is shortest-round-trip, so the parsed doubles
        are bit-identical to the collected ones.  Large batches build a
        pandas frame (Arrow serialization — no row pickling) coalesced
        to one partition."""
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("query_id", LongType()),
                StructField("qv", qv_type),
                StructField("qnrm", DoubleType()),
                StructField("cell", IntegerType()),
            ]
        )
        if rows and len(rows) <= self._PROBE_LITERAL_MAX:
            def d(x: float) -> str:
                return f"{float(x)!r}D"

            structs = ",".join(
                "named_struct("
                f"'query_id', {int(r['query_id'])}L,"
                "'qv', array(" + ",".join(d(x) for x in r["qv"]) + "),"
                f"'qnrm', {d(r['qnrm'])},"
                f"'cell', cast({int(r['cell'])} as int))"
                for r in rows
            )
            return self.spark.range(0, 1, 1, 1).select(
                F.expr(f"inline(array({structs}))")
            )
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "query_id": [r["query_id"] for r in rows],
                "qv": [list(r["qv"]) for r in rows],
                "qnrm": [r["qnrm"] for r in rows],
                "cell": [int(r["cell"]) for r in rows],
            }
        )
        return self.spark.createDataFrame(pdf, schema).coalesce(1)

    # -------------------------------------------------------------- search
    def search(
        self, queries: DataFrame, topk: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """Per query (``query_id``, ``qv``): the ``topk`` nearest indexed
        vectors by cosine among the ``nprobe`` closest cells.  Returns
        (query_id, neighbor_id, cos_sim, rank).

        Plan shape: queries x centroids scored against a BROADCAST
        literal (K x dim — bytes); the candidate scan is an equi-join on
        ``cell`` against the broadcast probe list, and because the store
        is partitioned by cell, Spark's partition pruning drops every
        unprobed cell's files before reading a byte.  Candidates score
        with the JVM cosine fold, the order the oracle replay pins."""
        cents = self.centroids()
        # one posexplode over a single-row literal, NOT
        # createDataFrame(local rows): parallelize slices local data to
        # cluster width, so every broadcast build of the centroid frame
        # would run a 32-task job for 16 rows
        cent_df = self.spark.range(0, 1, 1, 1).select(
            F.posexplode(F.expr(centroids_sql(cents))).alias("cell", "cv")
        ).select(F.col("cell").cast("int").alias("cell"), "cv")
        qdot_c = F.expr(
            "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (a, z) -> a + z)"
        )
        pw = Window.partitionBy("query_id").orderBy(
            (qdot_c / (l2_norm("qv") * l2_norm("cv"))).desc(), "cell"
        )
        probe = (
            queries.crossJoin(F.broadcast(cent_df))
            .withColumn("__pr", F.row_number().over(pw))
            .where(F.col("__pr") <= int(nprobe))
            .select("query_id", "qv", l2_norm("qv").alias("qnrm"), "cell")
        )

        # ONE bounded collect of the whole probe (|queries| x nprobe
        # rows — the same bound the cells-only collect always had, plus
        # the qv payload the candidate join broadcasts anyway): it
        # yields BOTH the static partition-pruning cell list AND the
        # probe rows themselves, re-emitted by ``_probe_frame`` as a
        # single-partition local frame.  The old shape collected only
        # the cells and left ``probe`` lazy, so the cross-join + window
        # subtree ran TWICE — once for this collect and again inside
        # the candidate join's broadcast build (4 scheduler jobs of
        # pure replay per search).
        rows = probe.collect()  # bounded-driver: <= |queries| x nprobe probe rows
        cells = sorted({r.cell for r in rows})
        probe = self._probe_frame(rows, queries.schema["qv"].dataType)
        corpus = (
            self.table.read(partitions={"cell": cells})
            .where(F.col("cell").isin(cells))
            .withColumn("nrm", l2_norm("v"))  # once per vector, not per pair
        )
        dot = F.expr(
            "aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (a, z) -> a + z)"
        )
        scored = (
            corpus.join(F.broadcast(probe), "cell")
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                (dot / (F.col("qnrm") * F.col("nrm"))).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), "neighbor_id"
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= int(topk))
        )
