"""LLM-training-data pipeline operators over documents/embeddings fixtures.

Beyond reference parity (BASELINE.json north star): deduplication, similarity
search, text analysis — each expressed shuffle-safely so the same plan holds
at 100 TB:

- exact dedup / fingerprint dedup: one hash-groupBy shuffle, map-side partial;
- MinHash+LSH: shingle → signature (groupBy doc) → band → bucket equi-join;
  candidate generation never compares all pairs — only same-band buckets join;
- brute-force cosine top-k: broadcast the (small) query set, scan the corpus
  once, per-partition partial top-k via TakeOrdered-style window+filter;
- text stats: pure narrow maps + one groupBy.

Every md5-based hash is string-stable across Spark and DuckDB, which is what
makes the MinHash oracle possible (same signatures on both engines).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..datasets import SPREAD_MODERATE, load_table, spread
from ..operators.iterate import cut_lineage
from . import query

N_MINHASH = 8  # signature length
N_BANDS = 2  # LSH bands (4 rows per band)
LSH_MAX_BUCKET = 64  # band-bucket size cap (see _lsh_capped_pairs)


def _words(col="text"):
    return F.split(col, " ")


_SHINGLES_ORACLE = """
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             UNNEST(range(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 3
"""


def minhash_bands(
    docs, n_hashes: int = N_MINHASH, n_bands: int = N_BANDS,
    with_count: bool = False,
):
    """(doc_id, text) → (doc_id, band_id, band) LSH band table.

    shingle(3-gram) → ``n_hashes`` md5-min signatures → ``n_bands`` bands
    hashed via one posexplode projection.  Signatures are computed as a
    PER-ROW JVM fold — ``array_min(transform(shingles, md5))`` over the
    row's own shingle array — so the whole signature stage is a narrow
    map: no explode, no groupBy shuffle of the (widest-in-pipeline)
    shingle rows.  min-of-md5 over the same shingle set is what the
    explode+groupBy formulation (and the DuckDB oracle) computes, so
    results are identical; at 100 TB this removes the one fact-sized
    shuffle the previous plan had.

    ``with_count=True`` returns ``(bands, n_band_rows)`` — the signature
    checkpoint is materialized by a COUNT (one job doing both) instead
    of an eager no-op job, and the exact band-row count is
    ``n_sig_rows * n_bands`` (posexplode emits one row per band per
    signature row).  Callers that need the count anyway (dedup_index's
    partition sizing) save a dedicated count job per call."""
    sh_arr = (
        "transform(sequence(0, size(w)-3),"
        " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    )
    sigs = (
        spread(docs)
        .select("doc_id", _words().alias("w"))
        .where(F.size("w") >= 3)
        .select(
            "doc_id",
            *[
                F.expr(
                    f"array_min(transform({sh_arr},"
                    f" x -> md5(concat('{s}|', x))))"
                ).alias(f"h{s}")
                for s in range(n_hashes)
            ],
        )
        # materialize the narrow signature table before posexplode:
        # Generate re-evaluates its generator per emitted element, which
        # would run every signature fold n_bands× (measured 2× at sf0.1)
        .transform(cut_lineage, eager=not with_count)
    )
    n_band_rows = sigs.count() * n_bands if with_count else None
    rows_per_band = n_hashes // n_bands
    band_hashes = [
        F.md5(
            F.concat(
                *[
                    F.col(f"h{i}")
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ]
            )
        )
        for b in range(n_bands)
    ]
    bands = sigs.select(
        "doc_id", F.posexplode(F.array(*band_hashes)).alias("band_id", "band")
    )
    return (bands, n_band_rows) if with_count else bands


def _lsh_capped_pairs(
    bands, max_bucket: int = LSH_MAX_BUCKET, pre_materialized: bool = False
):
    """Band table → distinct candidate pairs (doc_a < doc_b), with a
    bucket-size cap that bounds pair expansion on duplicate-heavy corpora.

    Buckets of ≤ ``max_bucket`` members join pairwise as usual.  An
    OVERSIZED bucket (in practice a cluster of exact/near-exact dups —
    thousands of identical docs land in one band bucket) would expand
    quadratically; instead only its min-doc_id representative pairs with
    every other member (a star), which is LINEAR in bucket size and
    preserves connected components exactly — downstream clustering
    (dedup_components) produces identical keep/drop groups.

    Cost: one extra window over the same (band_id, band) key the join
    shuffles on, so no additional exchange at scale.

    The band table is materialized once (``cut_lineage``): it is
    |docs| × n_bands NARROW rows (id + 2 small ints + one md5), while its
    lineage is a full-corpus shingle explode + n_hashes md5-min
    aggregation — without the checkpoint each self-join side recomputes
    that subtree (measured 2.7× slower at sf0.1).  At 100 TB you always
    materialize the signature table before the join.

    ``pre_materialized``: the caller already checkpointed ``bands`` (or
    a cheap narrow derivation of a checkpoint, e.g. dedup_index's
    coalesce + broadcast anti-join over cached blocks) — skip the
    internal checkpoint and its dedicated job.
    """
    if not pre_materialized:
        bands = cut_lineage(bands, eager=True)
    bw = W.partitionBy("band_id", "band")
    sized = bands.select(
        "doc_id",
        "band_id",
        "band",
        F.count(F.lit(1)).over(bw).alias("bsz"),
        F.min("doc_id").over(bw).alias("bmin"),
    )
    left = sized.where(
        (F.col("bsz") <= max_bucket) | (F.col("doc_id") == F.col("bmin"))
    )
    a, b = left.alias("a"), sized.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text); keep min doc_id per group.
    One shuffle keyed by the 128-bit hash — uniform, skew-free at any SF."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_copies") > 1)
    )


@query(
    "dedup_exact_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dupes
    FROM documents
    """,
)
def dedup_exact_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


@query(
    "dedup_fingerprint",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        FROM documents),
    counted AS (
        SELECT doc_id, fingerprint,
               CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_sharing
        FROM fp)
    SELECT doc_id, fingerprint, n_sharing FROM counted WHERE doc_id <= 200
    """,
)
def dedup_fingerprint(spark, sf_dir):
    """Bag-of-words document fingerprint (order-insensitive content hash) —
    catches shuffled near-dups that exact hashing misses."""
    d = spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE)
    fp = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(_words())))).alias(
            "fingerprint"
        ),
    )
    return fp.withColumn(
        "n_sharing", F.count(F.lit(1)).over(W.partitionBy("fingerprint"))
    ).where(F.col("doc_id") <= 200)


_MINHASH_SIGS = ", ".join(
    f"MIN(md5('{s}|' || sh)) AS h{s}" for s in range(N_MINHASH)
)

@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_ORACLE}),
    sigs AS (SELECT doc_id, {_MINHASH_SIGS} FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 0 AS band_id, md5(h0 || h1 || h2 || h3) AS band FROM sigs
        UNION ALL
        SELECT doc_id, 1 AS band_id, md5(h4 || h5 || h6 || h7) AS band FROM sigs
    ),
    sized AS (
        SELECT doc_id, band_id, band,
               COUNT(*) OVER (PARTITION BY band_id, band) AS bsz,
               MIN(doc_id) OVER (PARTITION BY band_id, band) AS bmin
        FROM bands
    )
    SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b
    FROM sized a JOIN sized b
      ON a.band = b.band AND a.band_id = b.band_id AND a.doc_id < b.doc_id
    WHERE a.bsz <= {LSH_MAX_BUCKET} OR a.doc_id = a.bmin
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs.

    shingle(3-gram) → 8 md5-min signatures → 2 bands of 4 → equi-join on
    band bucket.  Scale: the only join is band=band (uniform md5 keys); no
    all-pairs comparison ever happens, and oversized band buckets
    (exact-dup clusters on a duplicate-heavy corpus) are capped to a
    linear star expansion instead of a quadratic pairwise one — see
    :func:`_lsh_capped_pairs`.  The oracle replicates the cap rule, so the
    production scale path is exactly what the gate verifies.
    """
    bands = minhash_bands(load_table(spark, sf_dir, "documents"))
    # pre_materialized: bands is a narrow posexplode over the signature
    # checkpoint minhash_bands already materialized — the former second
    # checkpoint here was one more barrier job per run, and the sized
    # window's self-join sides share one exchange via ReuseExchange
    return _lsh_capped_pairs(bands, pre_materialized=True)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_ORACLE}),
    sets AS (SELECT doc_id, list(DISTINCT sh) AS shs FROM shingles
             WHERE doc_id < 20 GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shs, b.shs))), 4) AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard similarity over a bounded candidate set (the
    verify stage after LSH candidate generation at scale).  Shingle sets
    are built per-row (array_distinct over the row's own shingle array) —
    no explode, no collect_set shuffle; the only join is the bounded
    candidate pairing."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    sh_arr = (
        "transform(sequence(0, size(w)-3),"
        " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    )
    sets = (
        docs.select("doc_id", _words().alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", F.expr(f"array_distinct({sh_arr})").alias("shs"))
    )
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs")))
    union = F.size(F.array_union(F.col("a.shs"), F.col("b.shs")))
    return a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter.cast("double") / union, 4).alias("jaccard"),
    )


@query(
    "text_stats_by_lang",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_stats_by_lang(spark, sf_dir):
    """Corpus statistics per language: narrow map + single groupBy.
    Averages = exact integer sum / count (deterministic, no rounding)."""
    d = spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE)
    ntok = F.size(_words())
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (F.sum(ntok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum(ntok).alias("total_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "text_token_count",
    oracle="""
    SELECT source,
           CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS word_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting per source: whitespace tokenizer + regex word
    tokenizer (the BPE-ish pre-tokenization pass)."""
    d = spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE)
    return (
        d.groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", r"\s+"))).alias("ws_tokens"),
            F.sum(
                F.size(F.regexp_extract_all(F.col("text"), F.lit("([a-z]+)"), 1))
            ).alias("word_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS uniq_ratio,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_word_len,
           (CASE WHEN len(string_split(text, ' ')) BETWEEN 50 AND 300
                 THEN 0.5 ELSE 0.2 END)
               + LEAST(0.5, CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                            / len(string_split(text, ' '))) AS quality_score
    FROM documents WHERE doc_id <= 100
    """,
)
def text_quality(spark, sf_dir):
    """Per-document quality scoring: length band + lexical diversity.
    Pure narrow transformation — embarrassingly parallel at any scale.
    All outputs are int/int divisions — exact and unrounded."""
    d = load_table(spark, sf_dir, "documents")
    w = _words()
    ntok = F.size(w).cast("double")
    uniq = F.size(F.array_distinct(w)).cast("double") / ntok
    awl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / ntok
    band = F.when((F.size(w) >= 50) & (F.size(w) <= 300), 0.5).otherwise(0.2)
    return d.where(F.col("doc_id") <= 100).select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        uniq.alias("uniq_ratio"),
        awl.alias("avg_word_len"),
        (band + F.least(F.lit(0.5), uniq)).alias("quality_score"),
    )


@query(
    "sim_topk_bruteforce",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qv, e.v) AS cos
        FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= 10
    """,
)
def sim_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline.

    The query set is broadcast (it's small by construction); the corpus is
    scanned exactly once; ranking is a window over query_id — partial top-k
    per partition then a k-row-per-query shuffle.  Dot products run JVM-side
    via zip_with/aggregate (no Python in the hot path).
    """
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    norm = F.sqrt(F.expr("aggregate(transform(v, x -> x * x), 0D, (acc, z) -> acc + z)"))
    # spread only the corpus side (it does the |corpus| x |queries| dot
    # folds); the 5-row broadcast query side inheriting the round-robin
    # exchange was a pure-overhead stage per run
    corpus = spread(base).withColumn("nrm", norm)
    queries = (
        base.where(F.col("vec_id") < 5).withColumn("nrm", norm)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    joined = corpus.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    dot = F.expr("aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (acc, z) -> acc + z)")
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos_sim"), "rank")
    )


@query(
    "sim_label_centroids",
    oracle="""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(v[1] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS avg_dim0,
           CAST(SUM(CAST(v[2] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS avg_dim1,
           CAST(SUM(CAST(list_aggregate(v, 'sum') AS DECIMAL(30,6))) AS DOUBLE)
               / COUNT(*) AS avg_sum
    FROM e GROUP BY label ORDER BY label
    """,
)
def sim_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (first dims + vector sums) — the
    aggregation pattern behind IVF coarse quantization.  Sums accumulate in
    DECIMAL so summation order can't perturb the averages."""
    e = spread(load_table(spark, sf_dir, "embeddings"), min_bytes=SPREAD_MODERATE).select(
        "label", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    vsum = F.expr("aggregate(v, 0D, (acc, z) -> acc + z)")
    n = F.count(F.lit(1))
    return (
        e.groupBy("label")
        .agg(
            n.alias("n_vecs"),
            (F.sum(F.element_at("v", 1).cast("decimal(30,10)")).cast("double") / n).alias(
                "avg_dim0"
            ),
            (F.sum(F.element_at("v", 2).cast("decimal(30,10)")).cast("double") / n).alias(
                "avg_dim1"
            ),
            (F.sum(vsum.cast("decimal(30,6)")).cast("double") / n).alias("avg_sum"),
        )
        .orderBy("label")
    )


N_SIMHASH_BITS = 32


def _simhash_expr_spark(docs):
    """doc_id → 32-bit simhash as a bitstring, built from md5 nibbles of
    each word: bit i is +1 when hex digit i of md5(word) has its high bit
    set.

    Computed as a PER-ROW JVM fold: each word maps to a ±1 vector of its
    32 nibble signs, and the row's vectors are summed with a
    ``zip_with`` accumulator — a single narrow projection with NO explode
    and NO shuffle (the previous formulation exploded words × 32 bit
    positions through two groupBys).  Integer sums are order-independent,
    so the exploded DuckDB oracle computes the identical fingerprint."""
    word_bits = (
        "transform(sequence(1, 32), i -> "
        "if(instr('89abcdef', substring(md5(x), i, 1)) > 0, 1, -1))"
    )
    sums = (
        f"aggregate(array_distinct(split(text, ' ')), "
        f"array_repeat(0, 32), "
        f"(acc, x) -> zip_with(acc, {word_bits}, (a, b) -> a + b))"
    )
    return spread(docs).select(
        "doc_id",
        F.expr(
            f"concat_ws('', transform({sums}, "
            f"v -> if(v >= 0, '1', '0')))"
        ).alias("simhash"),
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH words AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
        FROM documents),
    bits AS (
        SELECT doc_id, i,
               CASE WHEN strpos('89abcdef', substr(md5(word), i, 1)) > 0
                    THEN 1 ELSE -1 END AS w
        FROM words, UNNEST(range(1, 33)) AS t(i)),
    sums AS (SELECT doc_id, i, SUM(w) AS s FROM bits GROUP BY doc_id, i),
    fp AS (
        SELECT doc_id,
               string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                          ORDER BY i) AS simhash
        FROM sums GROUP BY doc_id)
    SELECT doc_id, simhash FROM fp WHERE doc_id <= 100
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprints (32-bit) — near-dup detection robust to small
    edits; md5-nibble bit derivation is engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    return _simhash_expr_spark(d).where(F.col("doc_id") <= 100)


_LANG_MARKERS = {
    "en": ["the", "a", "fast", "slow"],
    "es": ["data", "table", "row"],
    "de": ["spark", "merge", "batch"],
}


def _marker_list_sql(words):
    return ", ".join(f"'{w}'" for w in words)


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ({_marker_list_sql(_LANG_MARKERS['en'])}))) AS s_en,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ({_marker_list_sql(_LANG_MARKERS['es'])}))) AS s_es,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ({_marker_list_sql(_LANG_MARKERS['de'])}))) AS s_de
        FROM documents),
    pred AS (
        SELECT doc_id, lang,
               CASE WHEN s_de >= s_en AND s_de >= s_es THEN 'de'
                    WHEN s_en >= s_es THEN 'en'
                    ELSE 'es' END AS predicted
        FROM scored)
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
)
def text_lang_id(spark, sf_dir):
    """Marker-word language-ID heuristic (n-gram-lite): per-row narrow map,
    one small groupBy — the confusion-matrix query a real lang-ID pass
    would emit.  Tie-break order fixed (de > en > es) for determinism."""
    d = spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE)
    w = _words()

    def score(markers):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(w, lambda x: F.array_contains(arr, x)))

    s_en = score(_LANG_MARKERS["en"])
    s_es = score(_LANG_MARKERS["es"])
    s_de = score(_LANG_MARKERS["de"])
    predicted = (
        F.when((s_de >= s_en) & (s_de >= s_es), "de")
        .when(s_en >= s_es, "en")
        .otherwise("es")
    )
    return (
        d.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@query(
    "sim_neardup_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < 300),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_cosine_similarity(a.v, b.v) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, ROUND(cos, 4) AS cos_sim
    FROM pairs WHERE cos > 0.35
    """,
)
def sim_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs over a bounded candidate set —
    the exact-verify stage after LSH bucketing at scale (the bucketing
    variant keeps candidates per-bucket; here the set is pre-bounded)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 300)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    )
    norm = F.sqrt(
        F.expr("aggregate(transform(v, x -> x * x), 0D, (acc, z) -> acc + z)")
    )
    e = emb.withColumn("nrm", norm)
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, z) -> acc + z)")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (dot / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .where(F.col("cos") > 0.35)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cos_sim"))
    )


N_PROBE = 2  # IVF cells searched per query
IVF_TOPK = 5


@query(
    "sim_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT label, i AS dim, v[i] AS x
             FROM e, UNNEST(range(1, len(v) + 1)) AS t(i)),
    cd AS (SELECT label, dim,
                  CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS c
           FROM dims GROUP BY label, dim),
    cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    probe AS (
        SELECT query_id, label FROM (
            SELECT q.query_id, cent.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC,
                                cent.label) AS pr
            FROM q CROSS JOIN cent)
        WHERE pr <= {N_PROBE}),
    cand AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qv, e.v) AS cos
        FROM probe p
        JOIN e ON e.label = p.label
        JOIN q ON q.query_id = p.query_id
        WHERE e.vec_id <> p.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM cand)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= {IVF_TOPK}
    """,
)
def sim_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN — the scale path beyond brute force.

    Coarse cells = per-label centroids (decimal-exact per-dim means, so both
    engines derive identical centroids); each query probes its N_PROBE
    nearest cells and scores ONLY vectors in those cells.  At 100 TB the
    corpus join is an equi-join on cell id against a broadcast probe list —
    the scan covers nprobe/ncells of the data instead of all of it, and no
    all-pairs crossJoin ever exists.  Cosine math mirrors
    sim_topk_bruteforce (JVM-side fold, no Python).
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"), min_bytes=SPREAD_MODERATE).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    norm_of = lambda c: F.sqrt(
        F.expr(f"aggregate(transform({c}, x -> x * x), 0D, (acc, z) -> acc + z)")
    )
    corpus = emb.withColumn("nrm", norm_of("v"))

    # per-label centroids: decimal-exact per-dim mean, assembled in dim order
    cd = (
        emb.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
    )
    cent = cd.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    cent = cent.withColumn("cnrm", norm_of("cv"))

    qs = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    qdot_c = F.expr(
        "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
    )
    pw = W.partitionBy("query_id").orderBy(
        (qdot_c / (F.col("qnrm") * F.col("cnrm"))).desc(), "label"
    )
    probe = (
        qs.crossJoin(F.broadcast(cent))
        .withColumn("pr", F.row_number().over(pw))
        .where(F.col("pr") <= N_PROBE)
        .select("query_id", "label", "qv", "qnrm")
    )

    cand = corpus.join(F.broadcast(probe), "label").where(
        F.col("vec_id") != F.col("query_id")
    )
    dot = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= IVF_TOPK)
        .select(
            "query_id", "neighbor_id", F.round("cos", 4).alias("cos_sim"), "rank"
        )
    )


@query(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE shingles AS ({_SHINGLES_ORACLE}),
    sigs AS (SELECT doc_id, {_MINHASH_SIGS} FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 0 AS band_id, md5(h0 || h1 || h2 || h3) AS band FROM sigs
        UNION ALL
        SELECT doc_id, 1 AS band_id, md5(h4 || h5 || h6 || h7) AS band FROM sigs),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_id = b.band_id
             AND a.doc_id < b.doc_id),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
    SELECT CAST(u AS BIGINT) AS doc_id, CAST(MIN(v) AS BIGINT) AS cluster_id
    FROM reach GROUP BY u ORDER BY doc_id
    """,
)
def dedup_components(spark, sf_dir):
    """Near-dup CLUSTERING: connected components over the MinHash candidate
    graph — the step that turns pairs into keep/drop groups (keep the min
    doc_id per component, drop the rest).

    Iterative min-label propagation on DataFrames: each round every node
    takes the min of its own label and its neighbors' labels; converged when
    no label changes.  Rounds needed = graph diameter (near-dup components
    are tiny, so a handful); every round is one broadcast-or-shuffle join +
    aggregate, and ``cut_lineage`` truncates the growing lineage — the
    standard Spark pattern for iterative algorithms (Pregel-style).  The
    oracle replays the same closure with a recursive CTE.  A component
    whose diameter exceeds the round cap no longer fails: the loop
    escalates to the alternating large-star/small-star algorithm
    (O(log n) rounds, operators/components.py).
    """
    from ..operators.components import (
        LOCAL_COMPONENT_EDGE_ROWS,
        _local_components,
        label_propagation_components,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).selectExpr(
        "doc_a as u", "doc_b as v"
    )
    # size-probe the ONE-directional pair list (union-find needs no
    # symmetrization): the old shape probed the unionAll of the pairs
    # with their flip, so the bounded limit-collect evaluated the whole
    # LSH window+self-join subplan TWICE — one evaluation of pure
    # replay per run.  Oversized graphs symmetrize and take the
    # distributed rounds exactly as before.
    head = pairs.limit(
        LOCAL_COMPONENT_EDGE_ROWS + 1
    ).collect()  # bounded-driver: <= threshold+1 narrow pair rows
    if len(head) <= LOCAL_COMPONENT_EDGE_ROWS:
        labels = _local_components(spark, head, pairs.schema["u"].dataType)
    else:
        edges = pairs.unionAll(
            pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # diameter-bound propagation; a pathological graph escalates to
        # the O(log n) large-star/small-star algorithm
        # (operators/components.py)
        labels = label_propagation_components(edges, max_rounds=20)

    return labels.select(
        F.col("u").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


@query(
    "sim_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < 50),
    scaled AS (
        SELECT vec_id,
               list_max(list_transform(v, x -> abs(x))) AS amax,
               v
        FROM e)
    SELECT vec_id,
           amax,
           array_to_string(
               list_transform(v, x -> CAST(FLOOR(x * 127.0 / amax + 0.5) AS INT)),
               ',') AS q,
           CAST(list_sum(list_transform(v,
                x -> abs(x - FLOOR(x * 127.0 / amax + 0.5) * amax / 127.0)))
                / len(v) AS DOUBLE) AS mean_abs_err
    FROM scaled ORDER BY vec_id
    """,
)
def sim_quantize_int8(spark, sf_dir):
    """Embedding int8 quantization (symmetric, per-vector absmax scale) —
    the 4× storage lever for 100 TB embedding corpora.  Pure JVM
    ``transform`` lambdas; ``floor(x+0.5)`` instead of round() because both
    engines floor identically while round() half-up ties can differ on
    doubles.  Also emits mean reconstruction error per vector.

    The quantized vector ``q`` is emitted flattened (``array_join`` with
    ',') per the registry convention (see ``f6_array``): the driver's
    canonicalizer sorts result cells with pandas and cannot hash raw
    list-typed columns (CORRECTNESS_r06's ``unhashable type: 'list'``)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 50)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    )
    amax = F.expr("array_max(transform(v, x -> abs(x)))")
    scaled = e.withColumn("amax", amax)
    q = F.expr("transform(v, x -> cast(floor(x * 127.0 / amax + 0.5) as int))")
    err = F.expr(
        "aggregate(transform(v,"
        " x -> abs(x - floor(x * 127.0 / amax + 0.5) * amax / 127.0)),"
        " 0D, (acc, z) -> acc + z) / size(v)"
    )
    return scaled.select(
        "vec_id",
        "amax",
        F.array_join(q, ",").alias("q"),
        err.cast("double").alias("mean_abs_err"),
    ).orderBy("vec_id")


@query(
    "py_groupwise_mad",
    oracle="""
    WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
               FROM events GROUP BY event_type),
    d AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
          FROM events e JOIN m ON e.event_type = m.event_type)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ANY_VALUE(med) AS median_value,
           quantile_cont(dev, 0.5) AS mad
    FROM d GROUP BY event_type ORDER BY event_type
    """,
)
def py_groupwise_mad(spark, sf_dir):
    """Grouped-map Pandas UDF (``applyInPandas``): per-group median absolute
    deviation — robust statistics that need the whole group in memory at
    once, the canonical batch grouped-UDF shape.  Each group arrives as ONE
    Arrow batch (group sizes must fit an executor — true for per-type event
    groups; salt first if not).  numpy's interpolated median matches
    quantile_cont exactly on identical values."""
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "events").select("event_type", "value")

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype="float64")
        med = float(np.median(v))
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(v)],
                "median_value": [med],
                "mad": [float(np.median(np.abs(v - med)))],
            }
        )

    out_schema = (
        "event_type string, n long, median_value double, mad double"
    )
    return (
        e.groupBy("event_type").applyInPandas(mad, out_schema).orderBy("event_type")
    )
