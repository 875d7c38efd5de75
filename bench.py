"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on local Spark.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced through the ``noop`` sink — the full plan runs JVM-side
(scan → shuffle → agg) without driver collect overhead, which is what a
cluster job would measure.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# one family per query class (SURVEY §2E/§2 LLM-ops), so a regression in
# any class is visible round-over-round; supersets round-1's 20 headliners
FAMILIES: dict[str, list[str]] = {
    # a9_sketch_bench / text_deflate_bench (below) are bench-only
    # variants of a9_approx_quantiles / text_compression_ratio: the
    # registry entries verify correctness in their oracle-exact regime,
    # the *_bench names time the production 100 TB paths (accuracy-10000
    # sketch, per-doc DEFLATE) under their own labels
    "agg": ["a1_pricing_summary", "a3_distinct_agg", "a5_rollup", "a5_grouping_sets", "a9_approx_quantiles", "a9_sketch_bench"],
    "join": ["j1_inner_equi", "j2_left_outer", "j6_broadcast"],
    "window": ["w1_ranking", "w3_framed", "w4_distribution"],
    "setop": ["s4_union_all", "s6_intersect_except"],
    "shape": ["s2_topk", "s10_explode", "s11_pivot"],
    "funcs": ["f3_math", "f4_json"],
    "tpch": [
        "q3_shipping_priority",
        "q6_forecast_revenue",
        "q9_product_profit",
        "q18_large_orders",
        "q21_waiting_suppliers",
    ],
    "dedup": [
        "dedup_fingerprint",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_components",
        "dedup_substring_spans",
        "dedup_incremental",
        "dedup_index_incremental",
    ],
    "text": [
        "text_token_count",
        "text_lang_id",
        "text_winnow_pairs",
        "text_source_cap",
        "text_gopher_filter",
        "text_paragraph_dedup",
        "text_warc_roundtrip",
        "text_deflate_bench",
    ],
    "sim": ["sim_topk_bruteforce", "sim_ivf_topk", "sim_lsh_topk",
            "sim_semantic_dedup", "sim_ann_index_search",
            "sim_mmr_rerank"],
    "asof": ["asof_events_orders", "interval_overlap_join"],
    "events": [
        "events_funnel",
        "events_retention_cohorts",
        "events_daily_anomaly",
        "events_resample_ffill",
        "events_markov_transitions",
    ],
    "graph": ["graph_pagerank"],
    "web": ["text_url_canonicalize", "text_domain_rollup"],
    "multimodal": [
        "mm_decode_stats",
        "mm_wav_roundtrip_stats",
        "mm_gif_frames_stats",
        "mm_jpeg_roundtrip_stats",
        "mm_jpeg_progressive_stats",
        "mm_mp4_demux_stats",
        "mm_mp3_demux_stats",
        "mm_image_ahash",
        "mm_wav_dominant_freq",
    ],
    "pipeline": [
        "text_pii_redact",
        "data_shard_split",
        "seq_pack_bins",
        "contamination_ngram",
        "events_sessionize_batch",
        "emb_label_outliers",
        "text_lm_perplexity",
        "text_html_boilerplate",
        "global_row_number_order",
        "text_unicode_nfc",
    ],
    # round-7 data-selection stage: repetition quality, importance
    # weighting, lexical retrieval, window chunking, mixture balancing
    "selection": [
        "text_repetition_signals",
        "text_dsir_weights",
        "text_bm25_topk",
        "seq_chunk_windows",
        "data_mixture_weights",
        "sim_recall_at_k",
        "tokenizer_oov_rate",
        "text_minhash_containment",
    ],
}
HEADLINE = [q for fam in FAMILIES.values() for q in fam]

#: the perf-tracked queries the compact final stdout line carries (the
#: harness keeps only ~2,000 chars of stdout tail; these are the
#: queries rounds' perf asks have been about) — tests/test_bench_artifact.py
#: pins that the rendered line always fits the window
COMPACT_SUBSET = [
    "dedup_index_incremental",
    "sim_ann_index_search",
    "sim_semantic_dedup",
    "sim_mmr_rerank",
    "graph_pagerank",
    "a1_pricing_summary",
    "q9_product_profit",
    "events_funnel",
    "dedup_minhash_lsh",
    "dedup_components",
    "text_bm25_topk",
    "a9_sketch_bench",
    "write_zorder",
    "write_snapshot_merge",
    "write_upsert_merge",
]


def steal_ticks(stat_path: str = "/proc/stat") -> int:
    """Cumulative hypervisor steal ticks (summed over CPUs) — the host
    is a VM with documented 0-25% bursty steal; recording the delta
    around every timed region makes each BENCH artifact carry per-query
    contamination evidence instead of only the start/end controls
    (VERDICT r14 #2: "auto-record controls + steal per slot").  Returns
    0 when /proc/stat is unavailable so the bench runs anywhere."""
    try:
        with open(stat_path) as f:
            # cpu user nice system idle iowait irq softirq steal guest ...
            return int(f.readline().split()[8])
    except Exception:
        return 0


def control_timings(spark, sf_dir) -> dict[str, float]:
    """Two pinned CONTROL timings that never change round-over-round, so
    a bench artifact carries its own environment evidence (VERDICT r12
    "Next round" #1: the r10 and r12 driver benches both overstated
    byte-identical code under host load, and each cost a round of
    adjudication).  Both are single-shot on purpose — a control must
    REFLECT instantaneous load, not average it away:

    - ``ctl_pyworker_fold``: the Python/Arrow worker round-trip (the
      same shape as the warmup) — sensitive to CPU contention on the
      32 worker processes.
    - ``ctl_scan_agg``: a pinned parquet scan + global agg over
      lineitem — sensitive to IO + JVM scheduling pressure.

    Reading a BENCH_r{N}: if the controls at start/end sit near those
    of earlier artifacts from the same host, query movement is code; if
    the controls are inflated too, the run was load-contaminated and
    per-query deltas are environmental.
    """
    import time as _t

    timings = {}
    t0 = _t.time()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    timings["ctl_pyworker_fold"] = round(_t.time() - t0, 3)

    from pyspark.sql import functions as F

    t0 = _t.time()
    (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .agg(
            F.sum("l_extendedprice").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    timings["ctl_scan_agg"] = round(_t.time() - t0, 3)
    return timings


def write_benches(spark, sf_dir):
    """The `write` family: output-step saves, the hottest op in a real ETL.

    Covers the two layouts that matter at scale — dynamic-partition
    INSERT OVERWRITE (only the partitions present in the data are
    rewritten) and bucketed CTAS (the shuffle-free fact-fact join
    layout).  Each callable performs one complete save through the same
    backend code path the output step uses; the partitioned table is
    pre-created (untimed) so the timed run measures the steady-state
    overwrite, not first-run DDL.
    """
    from pyspark.sql import functions as F

    from easy_sql_spark.datasets import load_table
    from easy_sql_spark.runtime.backend import Partition, SparkBackend, TableMeta

    backend = SparkBackend(spark)
    # the in-memory catalog forgets tables between runs but their files
    # persist — stale dirs make CREATE TABLE fail with LOCATION_ALREADY_EXISTS
    spark.sql("drop database if exists bench_w cascade")
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "bench_w.db"), ignore_errors=True)
    spark.sql("create database if not exists bench_w")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    ).withColumn("ship_ym", F.date_format("l_shipdate", "yyyy-MM"))
    part_meta = TableMeta.parse(
        "bench_w.lineitem_p", [Partition(field="ship_ym")]
    )
    orders = load_table(spark, sf_dir, "orders")
    bkt_meta = TableMeta.parse("bench_w.orders_b")

    # steady-state target for the overwrite bench (untimed first write)
    backend.save_table(li, part_meta, "overwrite", create_table=True)

    def write_partitioned_overwrite():
        backend.save_table(li, part_meta, "overwrite", create_table=True)

    def write_bucketed_ctas():
        spark.sql("drop table if exists bench_w.orders_b")
        backend.create_bucketed_table(orders, bkt_meta, ["o_orderkey"], 8)

    # the read-side payoff of the bucketed layout: same-key fact-fact join
    # with ZERO exchanges (setup untimed; both sides bucketed on orderkey)
    li_bkt_meta = TableMeta.parse("bench_w.lineitem_b")
    backend.create_bucketed_table(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        ),
        li_bkt_meta,
        ["l_orderkey"],
        8,
    )
    spark.sql("drop table if exists bench_w.orders_b")
    backend.create_bucketed_table(orders, bkt_meta, ["o_orderkey"], 8)

    def bucketed_join_zero_shuffle():
        from pyspark.sql import functions as F

        # disable auto-broadcast so the measured plan is the bucketed SMJ
        # (the layout's actual payoff), not a small-side broadcast
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            (
                spark.table("bench_w.orders_b")
                .join(
                    spark.table("bench_w.lineitem_b"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .groupBy("o_orderpriority")
                .agg(F.sum("l_quantity"), F.count(F.lit(1)))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

    # keyed upsert (r4): steady-state merge of a one-partition CDC batch
    # into a month-partitioned orders table — half the batch updates
    # existing keys, half inserts new ones; the copy-on-write plan reads
    # back ONLY the touched partition (see backend._merge_upsert_frame)
    op_meta = TableMeta.parse("bench_w.orders_p", [Partition(field="order_ym")])
    o = orders.withColumn(
        "order_ym", F.date_format("o_orderdate", "yyyy-MM")
    )
    backend.save_table(o, op_meta, "overwrite", create_table=True)
    max_ym = o.agg(F.max("order_ym")).first()[0]
    month = o.where(F.col("order_ym") == max_ym)
    upsert_batch = (
        month.withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .unionByName(
            month.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(10**9)
            )
        )
        .localCheckpoint(eager=True)  # timed run measures the MERGE, not
        # recomputing the batch from source parquet
    )

    def write_upsert_merge():
        backend.save_table(
            upsert_batch, op_meta, "upsert", merge_keys=["o_orderkey"]
        )

    # SCD2 history merge (r4): the same CDC batch shape applied with
    # history retention — a 10%-of-keys attribute change against a
    # customer dimension; measures close+insert+no-op-change detection
    customer = load_table(spark, sf_dir, "customer")
    scd_meta = TableMeta.parse("bench_w.cust_scd2")
    scd2_opts = {"ts": "ts"}
    seed = customer.withColumn("ts", F.lit(1))
    backend.save_table(
        seed, scd_meta, "scd2", create_table=True,
        merge_keys=["c_custkey"], scd2=scd2_opts,
    )
    scd2_batch = (
        customer.withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 1
            ).otherwise(F.col("c_acctbal")),
        )
        .withColumn("ts", F.lit(2))
        .localCheckpoint(eager=True)
    )

    def write_scd2_merge():
        backend.save_table(
            scd2_batch, scd_meta, "scd2",
            merge_keys=["c_custkey"], scd2=scd2_opts,
        )

    # z-order clustering (r4): write lineitem clustered on
    # (l_partkey, l_suppkey), then the read-side payoff — a 2-dim
    # selective scan prunes row groups via parquet stats in BOTH
    # dimensions, where a 1-D layout prunes only its sort column
    from easy_sql_spark.operators.zorder import write_zordered

    wh2 = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    zpath = os.path.join(wh2, "bench_zorder")
    li_z = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice"
    )

    def write_zorder():
        write_zordered(li_z, zpath, ["l_partkey", "l_suppkey"], n_files=32)

    write_zorder()  # untimed seed so the scan bench always has data
    pk_max = li_z.agg(F.max("l_partkey")).first()[0]
    sk_max = li_z.agg(F.max("l_suppkey")).first()[0]

    def zorder_scan_2dim():
        (
            spark.read.parquet(zpath)
            .where(
                (F.col("l_partkey") < pk_max * 0.05)
                & (F.col("l_suppkey") < sk_max * 0.05)
            )
            .agg(F.sum("l_extendedprice"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    # snapshot table (r4): manifest-committed dynamic-partition overwrite
    # of the hottest month into a versioned month-partitioned orders
    # snapshot + a time-travel read of the PREVIOUS version — measures the
    # commit protocol's overhead on top of the parquet write (idempotent:
    # each run replaces the same partition and adds one version)
    import tempfile

    from easy_sql_spark.runtime.snapshots import SnapshotTable

    snap = SnapshotTable(spark, tempfile.mkdtemp(prefix="bench_snap_"))
    snap.create(o, partition_by=["order_ym"])  # untimed seed
    month_snap = month.localCheckpoint(eager=True)

    def write_snapshot_commit():
        snap.overwrite_partitions(month_snap)
        (
            snap.read(version=max(1, snap.latest_version() - 1))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    # snapshot MERGE (r5): keyed upsert of one month's rows into a
    # separate seeded snapshot — measures the probe scan (broadcast
    # source keys) + dir-granular copy-on-write; idempotent (same keys
    # replaced every run)
    snap_m = SnapshotTable(spark, tempfile.mkdtemp(prefix="bench_snapm_"))
    snap_m.create(o, partition_by=["order_ym"])  # untimed seed
    merge_batch = (
        month.withColumn("o_totalprice", F.col("o_totalprice") * 1.01)
        .localCheckpoint(eager=True)
    )

    def write_snapshot_merge():
        snap_m.merge(merge_batch, keys=["o_orderkey"])
        (
            snap_m.read()
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    return {
        "write_partitioned_overwrite": write_partitioned_overwrite,
        "write_bucketed_ctas": write_bucketed_ctas,
        "bucketed_join_zero_shuffle": bucketed_join_zero_shuffle,
        "write_upsert_merge": write_upsert_merge,
        "write_scd2_merge": write_scd2_merge,
        "write_zorder": write_zorder,
        "zorder_scan_2dim": zorder_scan_2dim,
        "write_snapshot_commit": write_snapshot_commit,
        "write_snapshot_merge": write_snapshot_merge,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    from easy_sql_spark.queries import QUERIES
    from easy_sql_spark.session import build_session

    spark = build_session(
        "bench", extra_conf={"spark.ui.enabled": "false"}
    )

    # min over BENCH_RUNS executions per query: the host shows up to ~3x
    # run-to-run timing variance (documented in VERDICT r1/r2), and the
    # minimum is the standard variance-robust estimator for "what the plan
    # costs" — regressions in BENCH_r{N} comparisons stay real, noise doesn't
    # 3 (was 2 through r12): min-of-runs only sheds noise if at least one
    # run lands in a quiet window; with 2 runs a busy minute inflates the
    # minimum permanently (BENCH_r10/r12 lesson)
    runs = int(os.environ.get("BENCH_RUNS", "3"))

    # bench-only variants run under their OWN names (a9's registry entry
    # runs the sketch in its EXACT regime for the oracle gate; the bench
    # ALSO times the production accuracy-10000 sketch / per-doc DEFLATE —
    # the 100 TB paths).  Published timings for a registry name always
    # measure the correctness-verified code path (ADVICE r6 #5).
    from easy_sql_spark.queries.llm_ops3 import a9_sketch_bench
    from easy_sql_spark.queries.llm_ops5 import text_deflate_bench

    bench_variants = {
        "a9_sketch_bench": a9_sketch_bench,
        "text_deflate_bench": text_deflate_bench,
    }

    #: per-query steal-tick deltas (one entry per run, same order the
    #: runs executed) — contamination evidence alongside each timing;
    #: written to BENCH_FULL.json (the compact stdout line carries only
    #: the whole-bench total, to stay inside its size budget)
    steal_q: dict[str, list[int]] = {}

    def run(name: str) -> float:
        fn = bench_variants.get(name) or QUERIES[name]
        best = float("inf")
        for _ in range(runs):
            s0, t0 = steal_ticks(), time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            steal_q.setdefault(name, []).append(steal_ticks() - s0)
        return best

    run("a1_pricing_summary")  # warmup: JVM/codegen/parquet footer caches
    # the warm-up's steal deltas are not evidence for a measured timing
    steal_q.clear()
    # warm the Python/Arrow worker pool so mapInPandas queries measure the
    # operator, not the one-time interpreter forks (32 workers ≈ seconds)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # environment evidence (after warmup so controls measure load, not
    # cold caches); repeated at the END so load arriving mid-run shows
    loadavg_start = list(os.getloadavg())
    steal_bench_start = steal_ticks()
    controls_start = control_timings(spark, sf_dir)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = round(run(name), 3)

    writes = write_benches(spark, sf_dir)
    for name, fn in writes.items():
        best = float("inf")
        for _ in range(runs):  # both writes are idempotent re-runs
            s0, t0 = steal_ticks(), time.time()
            fn()
            best = min(best, time.time() - t0)
            steal_q.setdefault(name, []).append(steal_ticks() - s0)
        timings[name] = round(best, 3)

    controls_end = control_timings(spark, sf_dir)
    steal_total = steal_ticks() - steal_bench_start
    loadavg_end = list(os.getloadavg())
    controls = {"start": controls_start, "end": controls_end}
    loadavg = {
        "start": [round(x, 2) for x in loadavg_start],
        "end": [round(x, 2) for x in loadavg_end],
    }

    total = round(sum(timings.values()), 3)
    families = {
        fam: round(sum(timings[q] for q in qs), 3)
        for fam, qs in FAMILIES.items()
    }
    families["write"] = round(sum(timings[n] for n in writes), 3)
    # stop the JVM BEFORE printing: it shares this process's stdout and a
    # late GC/shutdown warning would land after (or inside) the JSON line
    # the driver parses
    spark.stop()
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "families": families,
        "sf": sf_val,
        "runs": runs,
        "controls": controls,
        "loadavg": loadavg,
        "steal_ticks_total": steal_total,
        "steal_ticks_per_query": steal_q,
    }
    # The harness that records this run keeps only the LAST ~2,000 chars
    # of stdout, and the full per-query dict is ~4k chars — so the full
    # record goes to a file + the FIRST stdout line, and stdout ENDS with
    # a compact line (total + families + the perf-tracked headline
    # queries) that is guaranteed to fit the tail window intact.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
        "w",
    ) as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full), flush=True)
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in COMPACT_SUBSET if k in timings},
        "families": families,
        "sf": sf_val,
        "runs": runs,
        "controls": controls,
        "loadavg": loadavg,
        "steal_ticks_total": steal_total,
        "full": "BENCH_FULL.json",
    }
    line = json.dumps(compact)
    assert len(line) <= 1900, f"compact bench line too long: {len(line)}"
    print(line, flush=True)


if __name__ == "__main__":
    main()
