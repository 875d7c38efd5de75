"""Per-phase wall decomposition of sim_ann_index_search (VERDICT r14 #3).

The query is a full index lifecycle; the bench times the whole thing.
This probe times each phase separately, min-of-N in one session, with
/proc/stat steal ticks per phase so a contaminated repetition is
visible.  Phases:

  create        lloyd training (seeds + 2 iterations) + partitioned
                snapshot create
  ingest        frozen-centroid assignment + commit_batch append
  probe_collect queries x centroids scoring + window + collect
                (driver gets |q| x nprobe rows)
  probe_eval    _probe_frame construction + ONE evaluation of the
                parsed literal (noop) — the piece the r14 rewrite
                added; if this is the residual, lower
                _PROBE_LITERAL_MAX
  search_rank   full search noop (candidate join + rank; re-evaluates
                the probe frame in the broadcast build and the DPP
                subquery)
  full_query    the registered query end-to-end (fresh index dirs)

Usage: python tools/probe_ann_phases.py [RUNS]
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import steal_ticks  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark.sql import functions as F

    from easy_sql_spark.datasets import load_table
    from easy_sql_spark.operators.ann_index import IVFIndex
    from easy_sql_spark.queries import QUERIES
    from easy_sql_spark.queries.llm_ops4 import (
        ANNIDX_K,
        ANNIDX_NPROBE,
        ANNIDX_TOPK,
    )
    from easy_sql_spark.session import build_session

    spark = build_session("ann_phases", extra_conf={"spark.ui.enabled": "false"})
    # warm JVM + python workers like bench.py does
    noop(QUERIES["sim_ann_index_search"](spark, sf_dir))
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    best: dict[str, float] = {}
    ticks: dict[str, list[int]] = {}

    def timed(name, fn):
        s0, t0 = steal_ticks(), time.time()
        fn()
        dt, ds = time.time() - t0, steal_ticks() - s0
        best[name] = min(best.get(name, float("inf")), dt)
        ticks.setdefault(name, []).append(ds)

    for _ in range(runs):
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") < 500)
            .select(
                "vec_id",
                F.expr(
                    "transform(embedding, x -> cast(x as double))"
                ).alias("v"),
            )
            .localCheckpoint(eager=False)
        )

        def vecs(lo, hi):
            return emb.where(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            )

        idx = IVFIndex(spark, tempfile.mkdtemp(prefix="annphase_"))
        timed("create", lambda: idx.create(vecs(0, 400), k=ANNIDX_K, iters=2))
        timed("ingest", lambda: idx.ingest(vecs(400, 500), batch_id=0))

        queries = vecs(0, 5).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        # reproduce search's probe subtree verbatim (ann_index.search)
        from pyspark.sql import Window

        cents = idx.centroids()
        cent_lit = "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            for c in cents
        ) + ")"
        cent_df = spark.range(0, 1, 1, 1).select(
            F.posexplode(F.expr(cent_lit)).alias("cell", "cv")
        ).select(F.col("cell").cast("int").alias("cell"), "cv")
        norm = lambda c: F.sqrt(F.expr(  # noqa: E731
            f"aggregate(transform({c}, t -> t * t), 0D, (acc, z) -> acc + z)"
        ))
        qdot_c = F.expr(
            "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (a, z) -> a + z)"
        )
        pw = Window.partitionBy("query_id").orderBy(
            (qdot_c / (norm("qv") * norm("cv"))).desc(), "cell"
        )
        probe_df = (
            queries.crossJoin(F.broadcast(cent_df))
            .withColumn("__pr", F.row_number().over(pw))
            .where(F.col("__pr") <= int(ANNIDX_NPROBE))
            .select("query_id", "qv", norm("qv").alias("qnrm"), "cell")
        )
        rows_box = {}
        timed("probe_collect", lambda: rows_box.setdefault("r", probe_df.collect()))
        rows = rows_box["r"]
        timed(
            "probe_eval",
            lambda: noop(
                idx._probe_frame(rows, queries.schema["qv"].dataType)
            ),
        )
        timed(
            "search_rank",
            lambda: noop(
                idx.search(queries, topk=ANNIDX_TOPK, nprobe=ANNIDX_NPROBE)
            ),
        )
        timed(
            "full_query",
            lambda: noop(QUERIES["sim_ann_index_search"](spark, sf_dir)),
        )

    print(f"\nphase best-of-{runs} (s) | steal ticks per rep")
    for name, v in best.items():
        print(f"  {name:14s} {v:7.3f}   {ticks[name]}")
    spark.stop()


if __name__ == "__main__":
    main()
