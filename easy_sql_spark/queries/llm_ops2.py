"""Round-2 LLM-pipeline additions: random-hyperplane LSH ANN.

Separate module (imported after tpch) so pre-existing ``queries()``
positions stay stable for the driver gate; thematically these belong with
llm_ops.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..datasets import SPREAD_MODERATE, load_table, spread
from ..operators.skew import capped_per_key
from ..operators.iterate import cut_lineage
from . import query

LSH_DIM = 64  # testdata embedding dimensionality (all sf dirs)
LSH_PLANES = 16  # hyperplanes = LSH_TABLES tables × LSH_BITS bits
LSH_TABLES = 4
LSH_BITS = 4
LSH_TOPK = 5
_SCALE = 10_000_000_000  # 1e10 scaled-long accumulation for plane sums


def _lsh_weights() -> list[list[float]]:
    """±1 Rademacher hyperplane entries derived from md5 — deterministic,
    well-mixed, and reproducible as literals in BOTH engines (a plain LCG's
    low bit alternates with (p+d) parity — structurally useless planes)."""
    return [
        [
            1.0
            if hashlib.md5(f"lshw|{p}|{d}".encode()).digest()[0] % 2 == 0
            else -1.0
            for d in range(LSH_DIM)
        ]
        for p in range(LSH_PLANES)
    ]


_W = _lsh_weights()

_ORACLE_WEIGHT_ROWS = ", ".join(
    f"({p}, {d}, {w})" for p, row in enumerate(_W) for d, w in enumerate(row)
)


def _sig_expr(p: int) -> str:
    """Plane-p signed projection as a per-row JVM fold: products rounded to
    scaled longs and summed exactly (order-independent, so the DuckDB
    oracle's SUM over exploded dims reproduces it bit-for-bit)."""
    arr = ", ".join(f"{w}D" for w in _W[p])
    return (
        f"aggregate(zip_with(v, array({arr}), (x, w) -> x * w), 0L, "
        f"(acc, z) -> acc + cast(round(z * {_SCALE}) as bigint))"
    )


@query(
    "sim_lsh_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT vec_id, i - 1 AS d, v[i] AS x
             FROM e, UNNEST(range(1, {LSH_DIM} + 1)) AS t(i)),
    weights(p, d, w) AS (VALUES {_ORACLE_WEIGHT_ROWS}),
    sigs AS (
        SELECT dims.vec_id, weights.p,
               SUM(CAST(ROUND(x * w * {_SCALE}) AS BIGINT)) AS s
        FROM dims JOIN weights ON weights.d = dims.d
        GROUP BY dims.vec_id, weights.p),
    buckets AS (
        SELECT vec_id, CAST(p // {LSH_BITS} AS INTEGER) AS t,
               SUM(CASE WHEN s >= 0
                        THEN (1 << CAST(p % {LSH_BITS} AS INTEGER))
                        ELSE 0 END) AS bucket
        FROM sigs GROUP BY vec_id, p // {LSH_BITS}),
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
        FROM buckets qb
        JOIN buckets cb ON qb.t = cb.t AND qb.bucket = cb.bucket
        WHERE qb.vec_id < 5 AND cb.vec_id <> qb.vec_id),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               list_cosine_similarity(q.v, n.v) AS cos
        FROM cand c
        JOIN e q ON q.vec_id = c.query_id
        JOIN e n ON n.vec_id = c.neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= {LSH_TOPK}
    """,
)
def sim_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN — the bucketed scale path beside IVF
    (sim_ivf_topk): LSH_TABLES=4 tables × LSH_BITS=4 sign bits per vector.

    Scale design: signatures are a PER-ROW JVM fold over the embedding
    (zip_with + aggregate — no explode, no shuffle, no Python), so the
    corpus pass is a narrow projection; the only join is the
    (table, bucket) equi-join between query and corpus bucket tables —
    candidates are bounded by bucket occupancy (expected corpus/2^bits per
    table), never all-pairs.  Exact cosine re-ranks candidates and a
    per-query window keeps the top LSH_TOPK.  Hyperplane entries are
    md5-derived ±1 literals baked into both engines' plans; plane sums use
    scaled-long accumulation so bucket assignment is bit-identical
    cross-engine.  Docstring refs: reference has no ANN operator — this is
    a brief-mandated extension (SURVEY.md §2 LLM-ops)."""
    # spread ONLY the signature-fold input (16 interpreted plane folds
    # per row — the CPU-heavy stage): the cosine re-rank sides below are
    # a 5-row query set and a broadcast-built corpus projection, where
    # the inherited round-robin exchange was one pure-overhead stage
    # each (plan r14: two RoundRobinPartitioning exchanges feeding
    # BroadcastExchange builds)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    # materialized before the bucket posexplode: Generate re-evaluates its
    # generator per emitted element, which would run all 16 plane folds
    # once per table row emitted (4×).  Lazy: the query-bucket broadcast
    # build inside the final action is the materializing full scan (its
    # vec_id filter prunes rows, not partitions), so the eager form's
    # dedicated job was pure scheduler constant
    sigs = spread(emb).select(
        "vec_id",
        *[F.expr(_sig_expr(p)).alias(f"s{p}") for p in range(LSH_PLANES)],
    ).transform(cut_lineage, eager=False)
    bucket_cols = [
        sum(
            F.when(F.col(f"s{t * LSH_BITS + i}") >= 0, 1 << i).otherwise(0)
            for i in range(LSH_BITS)
        )
        for t in range(LSH_TABLES)
    ]
    buckets = sigs.select(
        "vec_id", F.posexplode(F.array(*bucket_cols)).alias("t", "bucket")
    )
    qb = buckets.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "t", "bucket"
    )
    cand = (
        buckets.join(F.broadcast(qb), ["t", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    norm_of = lambda c: F.sqrt(
        F.expr(f"aggregate(transform({c}, x -> x * x), 0D, (acc, z) -> acc + z)")
    )
    qv = emb.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    ).withColumn("qnrm", norm_of("qv"))
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    ).withColumn("nnrm", norm_of("nv"))
    dot = F.expr(
        "aggregate(zip_with(qv, nv, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot / (F.col("qnrm") * F.col("nnrm"))).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= LSH_TOPK)
        .select(
            "query_id", "neighbor_id", F.round("cos", 4).alias("cos_sim"), "rank"
        )
    )


WINNOW_W = 4  # winnowing window (consecutive shingle hashes per window)


@query(
    "text_winnow_pairs",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents WHERE doc_id <= 300),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(w) - 1),
                     i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS h
          FROM d WHERE len(w) >= 3),
    fp AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(h) - 2),
                      j -> list_min(h[j:j+3]))) AS fps
           FROM g WHERE len(h) >= 4),
    e AS (SELECT doc_id, UNNEST(fps) AS fp FROM fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
    """,
)
def text_winnow_pairs(spark, sf_dir):
    """Winnowing document fingerprints (the rolling-hash fingerprinting of
    Schleimer/Wilkerson/Aiken's MOSS): per doc, hash every 3-shingle, take
    the minimum of each WINNOW_W-length window of consecutive hashes, and
    keep the distinct minima as the doc's fingerprint set — guaranteed to
    share a fingerprint with any doc that shares a sufficiently long run.

    Scale: the entire fingerprint derivation is ONE narrow per-row
    projection (shingle-hash array → windowed minima → distinct) — no
    explode until the final small fingerprint set, and the only shuffle is
    the fingerprint equi-join, whose md5 keys are uniform.  Pairs sharing
    ≥2 fingerprints are plagiarism/near-dup candidates for downstream
    exact verification (dedup_ngram_jaccard)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    h_arr = (
        "transform(sequence(0, size(w)-3),"
        " i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2])))"
    )
    fps = (
        spread(docs)
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", F.expr(h_arr).alias("h"))
        .where(F.size("h") >= WINNOW_W)
        .select(
            "doc_id",
            F.expr(
                # j = 1..n-(W-1): W-length windows; DuckDB's h[j:j+3] is a
                # 1-based INCLUSIVE slice (4 elements) = slice(h, j, 4)
                f"array_distinct(transform(sequence(1, size(h) - {WINNOW_W - 1}),"
                f" j -> array_min(slice(h, j, {WINNOW_W}))))"
            ).alias("fps"),
        )
    )
    # materialize the narrow per-doc fingerprint arrays BEFORE exploding:
    # Generate re-evaluates its (projection-collapsed, md5-heavy) generator
    # expression per emitted element, turning the O(len) derivation into
    # O(len² · md5) — measured 23s vs 0.2s at sf0.01.  The checkpoint also
    # feeds both self-join sides from one materialization (same rationale
    # as _lsh_capped_pairs' band table).  Lazy: both consumers live inside
    # the one final action (the self-join's first exchange is the
    # materializing full scan), so the eager form's dedicated job was
    # pure scheduler constant.
    e = cut_lineage(fps, eager=False).select(
        "doc_id", F.explode("fps").alias("fp")
    )
    a = e.select(F.col("doc_id").alias("doc_a"), "fp")
    b = e.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .orderBy("doc_a", "doc_b")
    )


SOURCE_CAP = 60  # per-source document quota for the declared query


@query(
    "text_source_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars, text,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_total
        FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MAX(n_total) AS BIGINT) AS n_total,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_kept
    FROM ranked WHERE rn <= {SOURCE_CAP}
    GROUP BY source ORDER BY source
    """,
)
def text_source_cap(spark, sf_dir):
    """Deterministic per-source quota sampling — the source-mix rebalancing
    step of a training-data pipeline (cap over-represented sources while
    keeping selection reproducible across runs and engines).

    Selection order is md5(doc_id) — a uniform, engine-portable shuffle of
    each source's docs — with doc_id as tiebreak, so the kept set is a
    deterministic uniform sample of exactly min(cap, n) docs per source.
    Scale: the skew-safe two-phase plan (operators/skew.py
    ``capped_per_key``) — per-source counts broadcast back as an
    md5-prefix threshold pre-filter, then the exact window runs only on
    ~cap+margin survivors per source — so a source holding 90% of a
    100 TB corpus never lands in one window task.  The per-source totals
    ride along from the phase-1 counts (no COUNT window)."""
    docs = spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE).select("source", "doc_id", "text")
    kept = capped_per_key(
        docs, "source", "doc_id", SOURCE_CAP, count_col="n_total"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("n_total").alias("n_total"),
            F.sum(F.size(F.split("text", " "))).alias("tokens_kept"),
        )
        .orderBy("source")
    )


@query(
    "text_repetition_filter",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents
               WHERE doc_id <= 200 AND len(string_split(text, ' ')) >= 2),
    s AS (SELECT doc_id,
                 1.0 - CAST(len(list_distinct(list_transform(
                           range(1, len(w)), i -> w[i] || ' ' || w[i+1])))
                       AS DOUBLE) / (len(w) - 1) AS dup_bigram_frac,
                 CAST(list_max(list_transform(list_distinct(w),
                           x -> len(list_filter(w, y -> y = x))))
                       AS DOUBLE) / len(w) AS top_word_frac
          FROM d)
    SELECT doc_id, dup_bigram_frac, top_word_frac,
           (dup_bigram_frac <= 0.05 AND top_word_frac <= 0.12) AS keep
    FROM s ORDER BY doc_id
    """,
)
def text_repetition_filter(spark, sf_dir):
    """Gopher/C4-style repetition quality filter — the heaviest-used class
    of LLM training-data filters: drop documents dominated by repeated
    n-grams or a single over-represented token.

    Signals per doc (pure per-row folds, no explode, no shuffle):
    duplicate-bigram fraction (1 − distinct/total bigrams) and top-word
    dominance (mode count / length).  Both are ratios of exact integers,
    so the doubles are bit-identical cross-engine and the keep verdict is
    deterministic.  At 100 TB this is a narrow map over the corpus —
    embarrassingly parallel, zero state."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    base = (
        spread(docs)
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 2)
    )
    bigrams = "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"
    dup_frac = F.expr(
        f"1.0D - cast(size(array_distinct({bigrams})) as double)"
        f" / (size(w) - 1)"
    )
    top_frac = F.expr(
        "cast(array_max(transform(array_distinct(w),"
        " x -> size(filter(w, y -> y = x)))) as double) / size(w)"
    )
    return (
        base.select(
            "doc_id",
            dup_frac.alias("dup_bigram_frac"),
            top_frac.alias("top_word_frac"),
        )
        .withColumn(
            "keep",
            (F.col("dup_bigram_frac") <= 0.05) & (F.col("top_word_frac") <= 0.12),
        )
        .orderBy("doc_id")
    )


@query(
    "s6b_setops_all",
    oracle="""
    WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 1000),
         b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM
        (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM
        (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
    ORDER BY op
    """,
)
def s6b_setops_all(spark, sf_dir):
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL) — the
    bag-semantics complement of s6's distinct forms.  Spark lowers both to
    a single aggregate with per-side counts then a generate — one shuffle
    on the compare key, no join."""
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 1000).select("o_custkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    inter = a.intersectAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    exc = a.exceptAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    return inter.unionAll(exc).orderBy("op")
