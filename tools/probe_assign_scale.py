"""Scale probe: assign_clusters (interpreted JVM fold) vs an
ordered-exact Arrow kernel (guide §4.2 — vectorize the per-row fold).

The r14 notes deferred the kernel because at the sf0.1 fixture
(2000 rows x 64 dims, K=8) the per-job scheduler constant dominates;
this probe supplies the missing SCALE measurement: n x K grid, both
paths interleaved in ONE session (A/B/A/B, min-of-N), plus a full
row-level exactness check of the kernel against the fold on the same
materialized vectors.

    python tools/probe_assign_scale.py [n ...]

Env: PROBE_DIM (default 64), PROBE_KS (default "8,64,256"),
PROBE_RUNS (default 3).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import steal_ticks  # noqa: E402


def main():
    ns = [int(a) for a in sys.argv[1:]] or [2000, 20000, 200000, 1000000]
    dim = int(os.environ.get("PROBE_DIM", "64"))
    ks = [int(k) for k in os.environ.get("PROBE_KS", "8,64,256").split(",")]
    runs = int(os.environ.get("PROBE_RUNS", "3"))

    from pyspark.sql import functions as F

    from easy_sql_spark.operators.kmeans import (
        _assign_fold,
        _assign_fold_kernel,
    )
    from easy_sql_spark.session import build_session

    spark = build_session("probe_assign", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # warmup both engines (JIT + Python worker pool)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    print(
        f"{'n':>8} {'k':>4} {'fold_min':>9} {'kernel_min':>10} "
        f"{'ratio':>6} {'exact':>6} {'steal_dt':>8}"
    )
    for n in ns:
        # deterministic synthetic vectors: hash-derived doubles in [0,1)
        base = (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(1, {dim}), i -> "
                    f"(abs(hash(id, i)) % 1000000) / 1000000.0d)"
                ).alias("v"),
            )
            .localCheckpoint()  # freeze: both paths read identical bits
        )
        for k in ks:
            cents = [r["v"] for r in base.limit(k).collect()]
            s0 = steal_ticks()
            f_best = kern_best = float("inf")
            for _ in range(runs):
                t0 = time.time()
                _assign_fold(base, cents, "v", "cluster").write.format("noop").mode(
                    "overwrite"
                ).save()
                f_best = min(f_best, time.time() - t0)
                t0 = time.time()
                _assign_fold_kernel(base, cents, "v", "cluster").write.format("noop").mode(
                    "overwrite"
                ).save()
                kern_best = min(kern_best, time.time() - t0)
            s1 = steal_ticks()
            mism = (
                _assign_fold(base, cents, "v", "cluster")
                .select("vec_id", F.col("cluster").alias("a"))
                .join(
                    _assign_fold_kernel(base, cents, "v", "cluster").select(
                        "vec_id", F.col("cluster").alias("b")
                    ),
                    "vec_id",
                )
                .where("a IS DISTINCT FROM b")
                .count()
            )
            print(
                f"{n:>8} {k:>4} {f_best:>9.3f} {kern_best:>10.3f} "
                f"{kern_best / f_best:>6.2f} {mism:>6} {s1 - s0:>8}"
            )
        # ADVICE r14: unpersist() does not free localCheckpoint RDD
        # blocks (released only when the RDD is GC'd) — drop the frame
        # reference and collect so checkpointed vector data from this
        # grid point can't accumulate into the next one's measurement
        base.unpersist()
        del base
        import gc

        gc.collect()
        spark._jvm.System.gc()
    spark.stop()


if __name__ == "__main__":
    main()
