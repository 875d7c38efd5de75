"""Fixed-query-batch search cost vs IVF INDEX SIZE, plus the SemDeDup
production path at sf10 (r12 verdict ask #5).

Mirrors tools/probe_dedup_index_scale.py: the sustainable-at-100TB
claim for operators/ann_index.py is that a search touches ONLY the
probed cells — so what a 10x corpus costs per query depends on the
quantizer sizing, and the probe measures BOTH regimes honestly:

1. ``K frozen`` (the registry entry's shape): cells grow with the
   corpus, so a fixed (queries, nprobe) search scans nprobe/K of the
   corpus — expected b ~ 1 with a small constant.  This is the
   documented non-scale regime, measured so the claim is a number.
2. ``K scaled`` (K ∝ sqrt(n), capped): keeps expected CELL SIZE
   bounded so per-query cost follows cell size, not corpus size —
   the regime that matters once a cell outgrows a task-sized file.
   MEASURED NEGATIVE at these corpus sizes (first run, kept in
   SCALE.md): at 2k-20k vectors the per-cell file/partition overhead
   and the queries x K centroid scoring dominate, so scaling K
   PESSIMIZES search 2-5x and the one-time lloyd build goes
   O(n x K) (231 s at 20k x 565).  The cap below keeps the probe's
   build budget sane; production guidance is frozen K until cells
   approach ``files.maxPartitionBytes``, then K ∝ corpus/cell_target.

Also measured per index size: one fixed 1,000-vector ``ingest`` batch
(expected ~flat — a narrow frozen-centroid assignment + partitioned
append never touches existing cells), and ``semantic_dedup`` with the
paper's K ∝ n sizing on the same vectors (the r12 SCALE row extends to
sf10 here).  Both run the operators' only paths: the JVM cosine fold for
search scoring, the size-gated assignment and the bit-pinned pairwise
kernel for SemDeDup.

Usage:
    python tools/probe_ann_index_scale.py <sf_dir> [<sf_dir> ...]
    # e.g. /root/testdata/sf0.1 /tmp/spark_graft_sf1 /tmp/spark_graft_sf10
Prints one JSON line per (sf_dir, regime); paste into SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES_N = 100
NPROBE = 4
RUNS = 3


def main() -> None:
    from pyspark.sql import functions as F

    from easy_sql_spark.datasets import load_table
    from easy_sql_spark.operators.ann_index import IVFIndex
    from easy_sql_spark.operators.kmeans import semantic_dedup
    from easy_sql_spark.session import build_session

    spark = build_session(
        "ann_index_scale", extra_conf={"spark.ui.enabled": "false"}
    )
    for sf_dir in sys.argv[1:]:
        vecs = load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        n = vecs.count()
        vecs = vecs.localCheckpoint(eager=True)

        # the SAME query batch at every index size: the 100 lowest-id
        # corpus vectors, perturbed (so top-1 isn't a trivial self-hit)
        queries = (
            vecs.orderBy("vec_id").limit(QUERIES_N)
            .select(
                F.col("vec_id").alias("query_id"),
                F.expr("transform(v, x -> x + 0.01d)").alias("qv"),
            )
            .localCheckpoint(eager=True)
        )
        # fixed ingest batch: 1,000 fresh ids, recycled corpus vectors
        batch = (
            vecs.orderBy("vec_id").limit(1000)
            .select((F.col("vec_id") + 10_000_000).alias("vec_id"), "v")
            .localCheckpoint(eager=True)
        )

        regimes = [("frozen", 16)]
        scaled_k = max(16, min(512, int(math.sqrt(n))))
        if os.environ.get("ANN_PROBE_SCALED"):
            # off by default: measured to pessimize below ~1M vectors
            # (see module docstring) and the lloyd build is O(n x K)
            regimes.append(("scaled", scaled_k))
        for regime, k in regimes:
            root = tempfile.mkdtemp(prefix="ivf_probe_")
            try:
                idx = IVFIndex(spark, root)
                t0 = time.time()
                idx.create(vecs, k=k, iters=2)
                build_s = time.time() - t0

                search_s = []
                for _ in range(RUNS):
                    t0 = time.time()
                    idx.search(queries, topk=10, nprobe=NPROBE) \
                        .write.format("noop").mode("overwrite").save()
                    search_s.append(time.time() - t0)
                t0 = time.time()
                idx.ingest(batch, batch_id=2)
                ingest_s = time.time() - t0
                print(json.dumps({
                    "probe": "ivf_search_fixed_queries",
                    "sf_dir": sf_dir, "n_vectors": n, "regime": regime,
                    "k": k, "nprobe": NPROBE, "n_queries": QUERIES_N,
                    "build_s": round(build_s, 2),
                    "search_median_s": round(statistics.median(search_s), 2),
                    "search_min_s": round(min(search_s), 2),
                    "ingest_1k_s": round(ingest_s, 2),
                }), flush=True)
            finally:
                shutil.rmtree(root, ignore_errors=True)

        # SemDeDup production path: K ∝ n (paper sizing)
        sd_k = max(8, n // 500)
        t0 = time.time()
        semantic_dedup(
            vecs, k=sd_k, iters=2, tau=0.99,
            id_col="vec_id", vec_col="v",
        ).write.format("noop").mode("overwrite").save()
        print(json.dumps({
            "probe": "semantic_dedup_production",
            "sf_dir": sf_dir, "n_vectors": n, "k": sd_k,
            "wall_s": round(time.time() - t0, 2),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
