"""Round-7 additions: the data-selection stage of a training-data
pipeline — Gopher repetition signals, DSIR importance weights, BM25
retrieval, sliding-window sequence chunking, and domain-mixture
reweighting.

These extend the corpus-curation surface (quality → dedup → selection →
packing) the same way llm_ops3/4 extended filtering and sampling; each
is a narrow map + keyed aggregation, so every shuffle is keyed on
``doc_id`` / ``source`` / a 256-value hash bucket — no all-pairs work,
no driver-side state, broadcast only for provably tiny frames (per-term
document frequencies, 256-row bucket tables, single-row corpus stats).

Separate module (imported after llm_ops5) so pre-existing ``queries()``
positions stay stable for the driver gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datasets import SPREAD_MODERATE, inline_frame, load_table, spread
from ..operators.iterate import cut_lineage
from . import query
from .llm_ops5 import _orders_cents

#: The portable tokenizer every cross-engine text query in this repo
#: uses: lowercase alpha runs (identical regex semantics in Spark and
#: DuckDB, cf. text_gopher_filter).
_TOKENIZE = "regexp_extract_all(lower(text), '[a-z]+', 0)"

#: One pass over a SORTED gram array: track the current equal-run, the
#: best count×len seen, and the occurrence-weighted total chars — the
#: per-row mode that lets text_repetition_signals run shuffle-free.
#: Module-level so the differential fuzz suite exercises the SAME
#: expression the query ships (no drift).
_TOP_SCAN = (
    "aggregate(array_sort({g}),"
    " named_struct('prev', '', 'run', 0L, 'best', 0L, 'tot', 0L),"
    " (acc, x) -> named_struct("
    "   'prev', x,"
    "   'run', IF(x = acc.prev, acc.run + 1L, 1L),"
    "   'best', greatest(acc.best,"
    "                    IF(x = acc.prev, acc.run + 1L, 1L) * length(x)),"
    "   'tot', acc.tot + length(x)),"
    " acc -> round(CAST(acc.best AS DOUBLE) / acc.tot, 4))"
)
_G2 = (
    "transform(sequence(1, size(ws)-1),"
    " i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))"
)
_G3 = (
    "transform(sequence(1, size(ws)-2),"
    " i -> concat(element_at(ws, i), ' ', element_at(ws, i+1),"
    "             ' ', element_at(ws, i+2)))"
)


@query(
    "text_repetition_signals",
    oracle="""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents),
    base AS (
        SELECT doc_id, ws, len(ws) AS n_words,
               CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio
        FROM w WHERE len(ws) >= 3),
    grams AS (
        SELECT doc_id, 1 AS ord, unnest(ws) AS gram FROM base
        UNION ALL
        SELECT doc_id, 2 AS ord,
               unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i+1])) AS gram
        FROM base
        UNION ALL
        SELECT doc_id, 3 AS ord,
               unnest(list_transform(range(1, len(ws)-1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
        FROM base),
    cnt AS (
        SELECT doc_id, ord, gram, COUNT(*) AS c, length(gram) AS glen
        FROM grams GROUP BY doc_id, ord, gram),
    top AS (
        SELECT doc_id, ord,
               MAX(c * glen) AS top_chars, SUM(c * glen) AS tot_chars
        FROM cnt GROUP BY doc_id, ord)
    SELECT b.doc_id AS doc_id, CAST(b.n_words AS BIGINT) AS n_words,
           ROUND(b.distinct_ratio, 4) AS distinct_ratio,
           ROUND(MAX(CASE WHEN ord = 1
                     THEN CAST(top_chars AS DOUBLE) / tot_chars END), 4)
               AS top1_frac,
           ROUND(MAX(CASE WHEN ord = 2
                     THEN CAST(top_chars AS DOUBLE) / tot_chars END), 4)
               AS top2_frac,
           ROUND(MAX(CASE WHEN ord = 3
                     THEN CAST(top_chars AS DOUBLE) / tot_chars END), 4)
               AS top3_frac
    FROM base b JOIN top t ON b.doc_id = t.doc_id
    GROUP BY b.doc_id, b.n_words, b.distinct_ratio
    ORDER BY doc_id
    """,
)
def text_repetition_signals(spark, sf_dir):
    """Gopher repetition rules (Rae et al. 2021 §A1.1, rules 5-8): the
    character fraction captured by the single most frequent {1,2,3}-gram
    plus the distinct-word ratio — the signals that kill template spam
    and keyboard-mash documents that pass length/stopword filters.

    Plan: no gram shuffle at all.  The per-doc top-gram is a mode over
    a per-row array — no explode needed: sort the gram array, then a
    single ``aggregate()`` pass finds the longest equal-run weighted by
    gram length (count × chars of the most frequent gram) and the
    occurrence-weighted total chars.  Every document is processed
    independently inside whole-stage codegen; the only exchange is
    ``spread``'s coarse-input fan-out, a no-op at real split counts
    (the explode formulation shuffles ~3× token volume instead)."""
    top_scan, g2, g3 = _TOP_SCAN, _G2, _G3
    # spread: 3 per-row sorts + run scans are gram-heavy work — a coarse
    # local scan must fan out (no-op at real split counts)
    return (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.expr(_TOKENIZE).alias("ws"))
        .where(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.size("ws").cast("bigint").alias("n_words"),
            F.round(
                F.size(F.array_distinct("ws")).cast("double") / F.size("ws"), 4
            ).alias("distinct_ratio"),
            F.expr(top_scan.format(g="ws")).alias("top1_frac"),
            F.expr(top_scan.format(g=g2)).alias("top2_frac"),
            F.expr(top_scan.format(g=g3)).alias("top3_frac"),
        )
        # no global sort: the correctness harness hashes order-insensitively,
        # and a rangepartitioned orderBy would re-execute this (expensive)
        # map lineage a second time just for partition-boundary sampling
    )


@query(
    "text_dsir_weights",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents),
    b AS (SELECT doc_id, lang, substr(md5(w), 1, 2) AS bk FROM tok),
    tgt AS (SELECT bk, COUNT(*) AS tc FROM b WHERE lang = 'en' GROUP BY bk),
    raw AS (SELECT bk, COUNT(*) AS rc FROM b GROUP BY bk),
    tot AS (SELECT (SELECT SUM(tc) FROM tgt) AS tt,
                   (SELECT SUM(rc) FROM raw) AS rt),
    scored AS (
        SELECT b.doc_id AS doc_id,
               ln((COALESCE(t.tc, 0) + 1.0) / (tot.tt + 256.0))
             - ln((r.rc + 1.0) / (tot.rt + 256.0)) AS ll
        FROM b JOIN raw r USING (bk) LEFT JOIN tgt t USING (bk)
        CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ll), 4) + 0.0 AS dsir_weight
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection via
    Importance Resampling"): score every document by the hashed-n-gram
    log-likelihood ratio between a target distribution (here the 'en'
    slice) and the raw corpus, add-one smoothed.  The standard way to
    tilt a 100 TB crawl toward a small high-quality target set without
    training a classifier.

    Feature space: 256 md5-prefix buckets (the repo's portable-hash
    discipline — Spark's murmur hash and DuckDB's differ, md5 doesn't).
    Plan: ONE tokenize pass folded into a (doc_id, bucket) count
    aggregate that is MATERIALIZED once (``cut_lineage`` — the
    minhash_bands recipe; Spark's ReuseExchange does not fire across
    the three consumers, measured 6 duplicate scans without it), then
    read back by the 256-row weight table, its 1-row total, and the
    final per-doc score.  At 100 TB the only data-sized shuffle is the
    (doc_id, bucket) aggregate, ≤256 rows per document — strictly
    smaller than the corpus it summarizes."""
    per = (
        spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE)
        .select("doc_id", "lang", "text")
    )
    return dsir_weight_frame(per, target_lang="en")


def dsir_weight_frame(docs, target_lang: str = "en"):
    """Reusable DSIR core over any (doc_id, lang, text) frame — the
    step-language func (``func.dsir_weights``) and the registered query
    share this exact plan.  See :func:`text_dsir_weights` for the plan
    rationale."""
    per = (
        docs.select(
            "doc_id", "lang", F.explode(F.expr(_TOKENIZE)).alias("w")
        )
        .groupBy("doc_id", "lang", F.substring(F.md5("w"), 1, 2).alias("bk"))
        .agg(F.count("*").alias("cnt"))
        # lazy: all three consumers live inside the ONE final action
        # (the bucket-stats broadcast build is the materializing full
        # scan), so the eager form's dedicated job was pure constant
        .transform(cut_lineage, eager=False)
    )
    # 256-row bucket stats: raw and target counts in ONE aggregate
    bkstats = per.groupBy("bk").agg(
        F.sum("cnt").alias("rc"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("cnt")).otherwise(0)
        ).alias("tc"),
    )
    tot = bkstats.agg(F.sum("rc").alias("rt"), F.sum("tc").alias("tt"))
    weights = bkstats.crossJoin(F.broadcast(tot)).select(
        "bk",
        (
            F.log((F.col("tc") + 1.0) / (F.col("tt") + 256.0))
            - F.log((F.col("rc") + 1.0) / (F.col("rt") + 256.0))
        ).alias("ll"),
    )
    return (
        per.join(F.broadcast(weights), "bk")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            (
                F.round(
                    F.sum(F.col("cnt") * F.col("ll")) / F.sum("cnt"), 4
                )
                + 0.0
            ).alias("dsir_weight"),
        )
        # no global sort (order-insensitive harness; avoids a second
        # execution of the scored lineage for range sampling)
    )


#: BM25 query terms — fixed, present in the synthetic vocabulary.
_BM25_TERMS = ("spark", "table", "hash", "merge", "window")
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents),
    d AS (SELECT doc_id, ws, len(ws) AS dl FROM w WHERE len(ws) > 0),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
    tf AS (
        SELECT doc_id, w AS term, COUNT(*) AS tf, MIN(dl) AS dl
        FROM (SELECT doc_id, dl, unnest(ws) AS w FROM d)
        WHERE w IN {_BM25_TERMS!r}
        GROUP BY doc_id, w),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    sc AS (
        SELECT tf.doc_id AS doc_id,
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                        + {_BM25_B} * tf.dl / s.avgdl)) AS part
        FROM tf JOIN df USING (term) CROSS JOIN stats s)
    SELECT doc_id, ROUND(SUM(part), 4) AS bm25
    FROM sc GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def text_bm25_topk(spark, sf_dir):
    """BM25 (Robertson-Spärck Jones) top-k retrieval over the corpus for
    a fixed term set — the lexical half of every retrieval-augmented
    pipeline and the classic relevance baseline ANN rerankers are judged
    against (k1=1.2, b=0.75).

    Plan: ONE corpus pass — per-row term counts via 5 narrow
    ``size(filter(ws, …))`` columns (no explode, no token shuffle),
    materialized as a (doc_id, dl, tf×5) frame a few ints wide per doc;
    the single-row corpus stats, the per-term document frequencies and
    the final score all read that checkpoint (without it Spark re-ran
    the tokenize once per consumer — measured 3 corpus scans).  The
    final top-k is a TakeOrdered, no global sort materialization."""
    def _eq(term):
        # single-arg lambda ON PURPOSE: a second parameter (even a
        # defaulted one) makes pyspark pass (element, index) and the
        # captured term would be shadowed by the index column
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(F.col("ws"), _eq(t))).alias(f"tf_{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    d = (
        spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE)
        .select("doc_id", F.expr(_TOKENIZE).alias("ws"))
        .where(F.size("ws") > 0)
        .select("doc_id", F.size("ws").alias("dl"), *tf_cols)
        # lazy: every consumer lives inside the one final action (the
        # small-side broadcast build is the materializing full scan), so
        # the eager form's dedicated job was pure scheduler constant
        .transform(cut_lineage, eager=False)
    )
    stats = d.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    stack = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(_BM25_TERMS)
    )
    tf = d.selectExpr(
        "doc_id",
        "dl",
        f"stack({len(_BM25_TERMS)}, {stack}) as (term, tf)",
    ).where(F.col("tf") > 0)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    part = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


#: Training-window geometry: 64-token windows on a 48-token stride.
_WIN, _STRIDE = 64, 48


@query(
    "seq_chunk_windows",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z]+')) AS n_toks
        FROM documents),
    s AS (
        SELECT doc_id, n_toks,
               unnest(range(0, n_toks, {_STRIDE})) AS tok_start
        FROM w WHERE n_toks > 0)
    SELECT doc_id, CAST(tok_start / {_STRIDE} AS BIGINT) AS win_idx,
           CAST(tok_start AS BIGINT) AS tok_start,
           CAST(LEAST(tok_start + {_WIN}, n_toks) AS BIGINT) AS tok_end
    FROM s ORDER BY doc_id, win_idx
    """,
)
def seq_chunk_windows(spark, sf_dir):
    """Sliding-window chunking: split each document's token stream into
    fixed-size training windows with overlap (window 64, stride 48) —
    how long documents become training sequences without losing
    cross-boundary context.  Complements seq_pack_bins (which packs
    SHORT sequences); together they are the length-normalization stage.

    Plan: pure narrow map — token count per doc, start offsets via
    ``sequence(0, n-1, stride)`` exploded per row.  Zero shuffles, zero
    joins; at 100 TB this is a single embarrassingly-parallel pass whose
    output is ~n_tokens/stride rows."""
    w = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.expr(_TOKENIZE)).alias("n_toks"))
        .where(F.col("n_toks") > 0)
    )
    starts = F.explode(
        F.sequence(F.lit(0), F.col("n_toks") - 1, F.lit(_STRIDE))
    )
    return (
        w.select("doc_id", "n_toks", starts.alias("tok_start"))
        .select(
            "doc_id",
            (F.col("tok_start") / _STRIDE).cast("bigint").alias("win_idx"),
            F.col("tok_start").cast("bigint").alias("tok_start"),
            F.least(F.col("tok_start") + _WIN, F.col("n_toks"))
            .cast("bigint")
            .alias("tok_end"),
        )
        # no global sort: pure narrow pass stays single-stage
    )


@query(
    "data_mixture_weights",
    oracle="""
    WITH per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+')))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS k FROM per)
    -- zero-token sources take rate 1.0 EXPLICITLY: DuckDB renders x/0
    -- as NULL (and LEAST ignores it) while Spark ANSI raises, so the
    -- shared semantics must never divide by zero (found by fuzzing)
    SELECT source, n_docs, n_tokens,
           CASE WHEN n_tokens = 0 THEN 1.0 ELSE
             ROUND(LEAST(1.0, (0.5 * tot.t / tot.k) / n_tokens), 4)
           END AS mix_rate,
           CAST(FLOOR(CASE WHEN n_tokens = 0 THEN 1.0 ELSE
                        ROUND(LEAST(1.0, (0.5 * tot.t / tot.k) / n_tokens), 4)
                      END * n_tokens + 0.5) AS BIGINT) AS expected_tokens
    FROM per CROSS JOIN tot ORDER BY source
    """,
)
def data_mixture_weights(spark, sf_dir):
    """Domain-mixture reweighting: given a token budget (50% of the
    corpus) and a uniform per-source target, compute each source's
    sampling rate and expected token yield — the static version of the
    DoReMi/Pile mixture table that decides how much of each domain a
    training run actually sees.  Rates cap at 1.0 (a source can't be
    sampled above its own volume; the shortfall is visible as
    expected_tokens < budget share, which is what mixture tuning
    iterates on).

    Plan: one source-keyed aggregate (20 groups) + a single-row total
    broadcast back — metadata-scale output regardless of corpus size.
    expected_tokens goes through round-then-floor(+0.5) in BOTH engines
    so no float boundary can flip a count."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return mixture_weight_frame(docs, budget_frac=0.5)


def mixture_weight_frame(docs, budget_frac: float = 0.5):
    """Reusable mixture-rate core over any (source, text) frame — the
    step-language func (``func.mixture_weights``) and the registered
    query share this exact plan; see :func:`data_mixture_weights`."""
    per = (
        docs.select("source", F.size(F.expr(_TOKENIZE)).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        # one row per SOURCE — checkpointed so its two consumers (the
        # budget total and the final select) tokenize the corpus once;
        # lazy: the total's broadcast build is the materializing scan
        .transform(cut_lineage, eager=False)
    )
    tot = per.agg(F.sum("n_tokens").alias("t"), F.count("*").alias("k"))
    # zero-token sources take rate 1.0 explicitly — dividing would raise
    # under ANSI mode (a source of token-less docs is legal input; found
    # by the differential fuzz suite, VERDICT r7 ask #7)
    rate = F.when(F.col("n_tokens") == 0, F.lit(1.0)).otherwise(
        F.round(
            F.least(
                F.lit(1.0),
                (float(budget_frac) * F.col("t") / F.col("k"))
                / F.col("n_tokens"),
            ),
            4,
        )
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            rate.alias("mix_rate"),
            F.floor(rate * F.col("n_tokens") + 0.5)
            .cast("bigint")
            .alias("expected_tokens"),
        )
        .orderBy("source")
    )


#: Retrieval-eval geometry: LSH's top-5 judged against brute-force truth.
_RECALL_K = 5


def _recall_oracle() -> str:
    """Composed from the two registered oracles (WITH-in-subquery is
    valid DuckDB) so the eval can never drift from what the evaluated
    queries actually compute."""
    from . import ORACLES

    return f"""
    WITH lsh AS (SELECT * FROM ({ORACLES["sim_lsh_topk"]})),
    bf AS (SELECT * FROM ({ORACLES["sim_topk_bruteforce"]})
           WHERE rank <= {_RECALL_K})
    SELECT b.query_id AS query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
           ROUND(CAST(COUNT(l.neighbor_id) AS DOUBLE) / {_RECALL_K}, 4)
               AS recall_at_5
    FROM bf b LEFT JOIN lsh l
      ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
    GROUP BY b.query_id ORDER BY query_id
    """


@query("sim_recall_at_k", oracle=_recall_oracle())
def sim_recall_at_k(spark, sf_dir):
    """ANN quality eval: recall@5 of the LSH index (sim_lsh_topk) against
    brute-force cosine ground truth (sim_topk_bruteforce) per query — the
    measurement that decides whether an approximate index is allowed to
    replace the exact scan in a production retrieval pipeline.

    Composes the two REGISTERED queries (not copies), so the eval tracks
    the evaluated code by construction; the oracle composes the same two
    oracle strings.  Plan cost is the two parents' plans plus a k-row
    join — at 100 TB the eval runs on a sampled query set exactly like
    this one (5 queries), never the full corpus."""
    from .llm_ops import sim_topk_bruteforce
    from .llm_ops2 import sim_lsh_topk

    lsh = sim_lsh_topk(spark, sf_dir).select("query_id", "neighbor_id")
    bf = (
        sim_topk_bruteforce(spark, sf_dir)
        .where(F.col("rank") <= _RECALL_K)
        .select("query_id", "neighbor_id")
    )
    hits = bf.join(
        lsh.withColumn("__hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count("__hit").cast("bigint").alias("n_hits"),
            F.round(F.count("__hit").cast("double") / _RECALL_K, 4).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


#: OOV vocabulary size — the synthetic corpus has ~31 distinct words, so
#: a top-10 vocabulary leaves a meaningful out-of-vocabulary tail.
_VOCAB_K = 10


@query(
    "tokenizer_oov_rate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents),
    wc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    vocab AS (
        SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM wc)
        WHERE r <= {_VOCAB_K})
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS oov_rate
    FROM tok LEFT JOIN vocab v USING (w)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def tokenizer_oov_rate(spark, sf_dir):
    """Vocabulary-coverage analysis: per-document out-of-vocabulary rate
    against the corpus's own top-K word vocabulary — the fertility/OOV
    measurement that sizes a tokenizer's vocab before training, and the
    per-document signal that flags domain-mismatched text.

    Plan: ONE corpus pass into a (doc_id, word) count aggregate,
    materialized once (≤ per-doc-distinct-words rows — strictly smaller
    than the token stream it summarizes; without the checkpoint Spark
    tokenized the corpus once for the vocabulary and again for the
    flagging).  The vocabulary is a word-keyed rollup of that frame,
    ranked with one window over ~|vocab| rows and broadcast back; the
    only other shuffle is the per-doc aggregation.  Tie-break on
    (count DESC, word) makes the vocabulary deterministic cross-engine."""
    from pyspark.sql import Window

    per = (
        spread(load_table(spark, sf_dir, "documents"), min_bytes=SPREAD_MODERATE)
        .select("doc_id", F.explode(F.expr(_TOKENIZE)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
        # lazy: every consumer lives inside the one final action (the
        # small-side broadcast build is the materializing full scan), so
        # the eager form's dedicated job was pure scheduler constant
        .transform(cut_lineage, eager=False)
    )
    wc = per.groupBy("w").agg(F.sum("cnt").alias("c"))
    vocab = (
        wc.withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), "w")
            ),
        )
        .where(F.col("r") <= _VOCAB_K)
        .select("w")
    )
    flagged = per.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "w", "left"
    )
    oov = F.sum(
        F.when(F.col("__in").isNull(), F.col("cnt")).otherwise(0)
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            oov.cast("bigint").alias("n_oov"),
            F.round(oov.cast("double") / F.sum("cnt"), 4).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_minhash_containment",
    oracle="""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents WHERE doc_id < 20),
    sets AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ws)-1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
        FROM w WHERE len(ws) >= 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                 / len(a.shs), 4) AS containment_ab,
           ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                 / len(b.shs), 4) AS containment_ba
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def text_minhash_containment(spark, sf_dir):
    """Asymmetric shingle CONTAINMENT (|A∩B|/|A|, both directions) over a
    bounded candidate set — the doc-in-doc detector Jaccard misses: a
    short document quoted inside a long one has near-zero Jaccard but
    containment ≈ 1 on the short side (the reason near-dup pipelines run
    containment beside Jaccard, cf. dedup_ngram_jaccard).

    Same scale shape as the Jaccard verify stage: shingle sets built
    per-row (no explode, no collect_set shuffle), candidates bounded —
    at 100 TB the pairing comes from LSH buckets, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    sh = (
        "array_distinct(transform(sequence(1, size(ws)-2),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i+1),"
        "             ' ', element_at(ws, i+2))))"
    )
    sets = (
        docs.select("doc_id", F.expr(_TOKENIZE).alias("ws"))
        .where(F.size("ws") >= 3)
        .select("doc_id", F.expr(sh).alias("shs"))
        # bounded candidate set, consumed as BOTH join sides —
        # materialize once instead of shingling twice
        .transform(cut_lineage, eager=True)
    )
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs"))).cast(
        "double"
    )
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter / F.size(F.col("a.shs")), 4).alias("containment_ab"),
            F.round(inter / F.size(F.col("b.shs")), 4).alias("containment_ba"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "hudi_export_mor_roundtrip",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 800),
    v2 AS (
        SELECT k, CASE WHEN k <= 10 THEN cents + 1000 ELSE cents END AS cents
        FROM seed WHERE k NOT BETWEEN 11 AND 14
        UNION ALL
        SELECT 900001 + i, 5000 + i FROM range(4) t(i))
    SELECT snap, CAST(n AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS sum_cents
    FROM (
        SELECT 1 AS snap, COUNT(*) AS n, SUM(cents) AS sum_cents FROM seed
        UNION ALL
        SELECT 2, COUNT(*), SUM(cents) FROM v2
    ) ORDER BY snap
    """,
)
def hudi_export_mor_roundtrip(spark, sf_dir):
    """Snapshot -> Hudi MERGE_ON_READ export roundtrip
    (sources/hudi_meta.py ``export_snapshot_to_hudi_mor``): an orders
    slice becomes a snapshot table, exports as bucket-routed base files
    (with real ``_hoodie_*`` meta columns), then an upsert + delete
    round exports INCREMENTALLY as log files only — delete block + data
    block per affected file group, framed executor-side — and
    ``read_hudi`` merges both instants back (time travel through the
    exported MOR timeline).  The oracle replays the same two states in
    SQL, so what's checked is the log-block framing + per-key merge
    semantics as seen by an independent timeline-replaying reader.

    Scale: the incremental export moves O(changed rows) through
    ``table.changes`` and writes one log file per affected bucket (one
    executor task each, driver sees bucket ids only); the base export
    is one distributed rewrite.  The MOR shape is exactly what the
    reference's Flink Hudi samples write (upserts without base-file
    rewrites)."""
    import tempfile

    from ..runtime.snapshots import SnapshotTable
    from ..sources.hudi_meta import export_snapshot_to_hudi_mor, read_hudi

    seed = _orders_cents(spark, sf_dir, 800)
    root = tempfile.mkdtemp(prefix="hudi_mor_exp_") + "/tbl"
    t = SnapshotTable(spark, root)
    t.create(seed)
    rep1 = export_snapshot_to_hudi_mor(t, key_col="k")
    upd = seed.where(F.col("k") <= 10).select(
        "k", (F.col("cents") + 1000).alias("cents")
    )
    ins = inline_frame(
        spark, [(900001 + i, 5000 + i) for i in range(4)], "k long, cents long"
    )
    t.merge(upd.unionByName(ins), keys=["k"])
    t.delete_where([("k", ">=", 11), ("k", "<=", 14)])
    rep2 = export_snapshot_to_hudi_mor(t, key_col="k")
    dest = rep1["dest"]

    def state(snap, instant):
        return (
            read_hudi(spark, dest, as_of=instant)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(F.lit(snap).alias("snap"), "n", "sum_cents")
        )

    return (
        state(1, rep1["instant"])
        .unionByName(state(2, rep2["instant"]))
        .orderBy("snap")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "hudi_mor_kryo_delete_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 500),
    after_v1 AS (SELECT * FROM seed WHERE k % 6 <> 0),
    after_v2 AS (SELECT * FROM after_v1 WHERE k % 11 <> 0)
    SELECT snap, CAST(n AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS sum_cents
    FROM (
        SELECT 1 AS snap, COUNT(*) AS n, SUM(cents) AS sum_cents FROM seed
        UNION ALL SELECT 2, COUNT(*), SUM(cents) FROM after_v1
        UNION ALL SELECT 3, COUNT(*), SUM(cents) FROM after_v2
    ) ORDER BY snap
    """,
)
def hudi_mor_kryo_delete_read(spark, sf_dir):
    """Hudi MOR read over LEGACY (pre-v3) delete blocks — the
    Kryo-serialized ``HoodieKey[]`` (block v1) and ``DeleteRecord[]``
    (block v2) payloads that pre-0.14 Hudi writers (and many current
    deployments) emit for deletes, decoded by the pure-Python Kryo 4
    subset codec (sources/kryo_lite.py; wire format validated
    byte-for-byte against the real kryo-shaded 4.0.3 in
    tests/test_hudi_log.py).  The v1 block shares one partitionPath
    string instance across keys, so the stream exercises Kryo
    back-references; the v2 block carries mixed orderingVal classes
    (null / long / double / string).  The oracle replays the same two
    delete waves in SQL — what's checked is the Kryo decode itself,
    plus commit filtering and the per-key merge.

    Scale: same as every MOR read here — log payloads decode inside
    executor tasks (one per file group), the driver never touches
    block bytes."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..sources.hudi_log import write_delete_block_kryo
    from ..sources.hudi_meta import read_hudi

    t = _tempfile.mkdtemp(prefix="hudi_kryo_q_") + "/tbl"
    _os.makedirs(t)
    seed = _orders_cents(spark, sf_dir, 500)

    base = seed.selectExpr(
        "'001' as _hoodie_commit_time",
        "cast(k as string) as _hoodie_record_key",
        "'' as _hoodie_partition_path",
        "k",
        "cents",
    )
    base.coalesce(1).write.parquet(t + "/_s")
    part = next(n for n in _os.listdir(t + "/_s") if n.endswith(".parquet"))
    _os.replace(f"{t}/_s/{part}", f"{t}/f1_0-1-0_001.parquet")
    _shutil.rmtree(t + "/_s")

    del_v1 = [
        (str(r.k), "") for r in seed.where(F.col("k") % 6 == 0).collect()  # bounded-driver: <=84 rows (k<=500 cap)
    ]
    del_v2 = [
        (str(r.k), "") for r in seed.where((F.col("k") % 11 == 0) & (F.col("k") % 6 != 0)).collect()  # bounded-driver: <=46 rows (k<=500 cap)
    ]
    ordering = [
        (None, 7, 1.5, "seq-3")[i % 4] for i in range(len(del_v2))
    ]
    payload = write_delete_block_kryo(
        del_v1, "002", version=1, shared_partition_path=True
    ) + write_delete_block_kryo(
        del_v2, "003", version=2, ordering_vals=ordering
    )
    with open(f"{t}/.f1_001.log.1_0-1-0", "wb") as fh:
        fh.write(payload)

    _os.makedirs(f"{t}/.hoodie")
    with open(f"{t}/.hoodie/hoodie.properties", "w") as fh:
        fh.write("hoodie.table.name=qk\nhoodie.table.type=MERGE_ON_READ\n")
    for instant, action in (("001", "commit"), ("002", "deltacommit"),
                            ("003", "deltacommit")):
        with open(f"{t}/.hoodie/{instant}.{action}", "w") as fh:
            fh.write("{}")

    outs = [
        read_hudi(spark, t, as_of=as_of)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit(snap).alias("snap"), "n", "sum_cents")
        for snap, as_of in ((1, "001"), (2, "002"), (3, None))
    ]
    return (
        outs[0].unionByName(outs[1]).unionByName(outs[2])
        .orderBy("snap")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "hudi_mor_parquet_block_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 400),
    v2 AS (
        SELECT k, CASE WHEN k <= 10 THEN cents + 1000 ELSE cents END AS cents
        FROM seed
        UNION ALL
        SELECT 900001 + i, CAST(5000 + i AS BIGINT)
        FROM (SELECT UNNEST([0, 1, 2]) AS i)),
    v3 AS (SELECT * FROM v2 WHERE k % 7 <> 0)
    SELECT snap, CAST(n AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS sum_cents
    FROM (
        SELECT 1 AS snap, COUNT(*) AS n, SUM(cents) AS sum_cents FROM seed
        UNION ALL SELECT 2, COUNT(*), SUM(cents) FROM v2
        UNION ALL SELECT 3, COUNT(*), SUM(cents) FROM v3
    ) ORDER BY snap
    """,
)
def hudi_mor_parquet_block_read(spark, sf_dir):
    """Hudi MOR read over PARQUET-format log data blocks
    (``hoodie.logfile.data.block.format=parquet`` — a common modern
    writer setting): the delta upserts+inserts ride a
    PARQUET_DATA_BLOCK whose content is a complete parquet file
    (sources/hudi_log.py), followed by a v3 delete block, and the MOR
    snapshot merge must produce identical per-key latest-wins state at
    each instant.  The oracle replays the same upsert/insert/delete
    waves in SQL, so what's value-checked is the parquet block decode
    itself plus commit filtering and the merge.

    Scale: identical to every MOR read here — block payloads (including
    the embedded parquet file) decode INSIDE executor tasks, one per
    file group; the driver never touches block bytes."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..sources.hudi_log import write_delete_block, write_parquet_data_block
    from ..sources.hudi_meta import read_hudi

    t = _tempfile.mkdtemp(prefix="hudi_pqblk_q_") + "/tbl"
    _os.makedirs(t)
    seed = _orders_cents(spark, sf_dir, 400)

    base = seed.selectExpr(
        "'001' as _hoodie_commit_time",
        "cast(k as string) as _hoodie_record_key",
        "'' as _hoodie_partition_path",
        "k",
        "cents",
    )
    base.coalesce(1).write.parquet(t + "/_s")
    part = next(n for n in _os.listdir(t + "/_s") if n.endswith(".parquet"))
    _os.replace(f"{t}/_s/{part}", f"{t}/f1_0-1-0_001.parquet")
    _shutil.rmtree(t + "/_s")

    rec_schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "_hoodie_commit_time", "type": "string"},
            {"name": "_hoodie_record_key", "type": "string"},
            {"name": "_hoodie_partition_path", "type": "string"},
            {"name": "k", "type": "long"},
            {"name": "cents", "type": "long"},
        ],
    }
    ups = [
        {
            "_hoodie_commit_time": "002",
            "_hoodie_record_key": str(r.k),
            "_hoodie_partition_path": "",
            "k": r.k,
            "cents": r.cents + 1000,
        }
        for r in seed.where(F.col("k") <= 10).collect()  # bounded-driver: <=10 rows (k<=10 cap)
    ] + [
        {
            "_hoodie_commit_time": "002",
            "_hoodie_record_key": str(900001 + i),
            "_hoodie_partition_path": "",
            "k": 900001 + i,
            "cents": 5000 + i,
        }
        for i in range(3)
    ]
    del_keys = [
        (str(r.k), "")
        for r in seed.where(F.col("k") % 7 == 0).collect()  # bounded-driver: <=58 rows (k<=400 cap)
    ] + [("900004", "")]  # never-present key: delete must be a no-op
    payload = write_parquet_data_block(
        rec_schema, ups, "002"
    ) + write_delete_block(del_keys, "003")
    with open(f"{t}/.f1_001.log.1_0-1-0", "wb") as fh:
        fh.write(payload)

    _os.makedirs(f"{t}/.hoodie")
    with open(f"{t}/.hoodie/hoodie.properties", "w") as fh:
        fh.write("hoodie.table.name=qp\nhoodie.table.type=MERGE_ON_READ\n")
    for instant, action in (("001", "commit"), ("002", "deltacommit"),
                            ("003", "deltacommit")):
        with open(f"{t}/.hoodie/{instant}.{action}", "w") as fh:
            fh.write("{}")

    outs = [
        read_hudi(spark, t, as_of=as_of)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit(snap).alias("snap"), "n", "sum_cents")
        for snap, as_of in ((1, "001"), (2, "002"), (3, None))
    ]
    return (
        outs[0].unionByName(outs[1]).unionByName(outs[2])
        .orderBy("snap")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "hudi_cdc_block_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 300),
    upd AS (
        SELECT k, cents AS before_c, cents + 1000 AS after_c
        FROM seed WHERE k <= 10),
    ins AS (
        SELECT 900001 + i AS k, CAST(5000 + i AS BIGINT) AS after_c
        FROM (SELECT UNNEST([0, 1, 2]) AS i)),
    v2 AS (
        SELECT k, CASE WHEN k <= 10 THEN cents + 1000 ELSE cents END AS cents
        FROM seed
        UNION ALL SELECT k, after_c FROM ins),
    dels AS (SELECT k, cents FROM v2 WHERE k % 9 = 0),
    fin AS (SELECT * FROM v2 WHERE k % 9 <> 0)
    SELECT kind, CAST(n AS BIGINT) AS n,
           CAST(sum_before AS BIGINT) AS sum_before,
           CAST(sum_after AS BIGINT) AS sum_after
    FROM (
        SELECT 'cdc:002:i' AS kind, (SELECT COUNT(*) FROM ins) AS n,
               NULL AS sum_before, (SELECT SUM(after_c) FROM ins) AS sum_after
        UNION ALL SELECT 'cdc:002:u', (SELECT COUNT(*) FROM upd),
               (SELECT SUM(before_c) FROM upd), (SELECT SUM(after_c) FROM upd)
        UNION ALL SELECT 'cdc:003:d', (SELECT COUNT(*) FROM dels),
               (SELECT SUM(cents) FROM dels), NULL
        UNION ALL SELECT 'snapshot', (SELECT COUNT(*) FROM fin),
               NULL, (SELECT SUM(cents) FROM fin)
    ) ORDER BY kind
    """,
)
def hudi_cdc_block_read(spark, sf_dir):
    """Hudi CHANGE-DATA-CAPTURE read (RFC-51,
    ``hoodie.table.cdc.enabled=true``): the writer lands every change
    twice — regular data/delete log blocks for the snapshot state, and
    a supplemental ``-cdc`` log file of CDC_DATA_BLOCKs
    (data_before_after logging mode: op + ts_ms + before/after images)
    that ``read_hudi_cdc`` (sources/hudi_meta.py) decodes into the
    Debezium-shaped change feed.  The fixture also plants an INFLIGHT
    cdc instant (004, no timeline entry) the feed must treat as
    invisible, and the final ``snapshot`` row proves the snapshot merge
    SKIPS the supplemental cdc file (its records carry no
    ``_hoodie_record_key`` — double-consuming it would raise).  The
    oracle replays the same update/insert/delete waves in SQL, so
    what's value-checked is the CDC block decode, the image JSON, the
    instant filtering and the cdc/data file separation.

    Scale: cdc payloads decode inside executor tasks (one per cdc
    file); image projections are ``get_json_object`` — JVM-side."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..sources.hudi_log import (
        write_cdc_data_block,
        write_data_block,
        write_delete_block,
    )
    from ..sources.hudi_meta import read_hudi, read_hudi_cdc

    t = _tempfile.mkdtemp(prefix="hudi_cdc_q_") + "/tbl"
    _os.makedirs(t)
    seed = _orders_cents(spark, sf_dir, 300)

    base = seed.selectExpr(
        "'001' as _hoodie_commit_time",
        "cast(k as string) as _hoodie_record_key",
        "'' as _hoodie_partition_path",
        "k",
        "cents",
    )
    base.coalesce(1).write.parquet(t + "/_s")
    part = next(n for n in _os.listdir(t + "/_s") if n.endswith(".parquet"))
    _os.replace(f"{t}/_s/{part}", f"{t}/f1_0-1-0_001.parquet")
    _shutil.rmtree(t + "/_s")

    rec_schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "_hoodie_commit_time", "type": "string"},
            {"name": "_hoodie_record_key", "type": "string"},
            {"name": "_hoodie_partition_path", "type": "string"},
            {"name": "k", "type": "long"},
            {"name": "cents", "type": "long"},
        ],
    }
    img_schema = {
        "type": "record",
        "name": "img",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "cents", "type": "long"},
        ],
    }

    upd = seed.where(F.col("k") <= 10).collect()  # bounded-driver: <=10 rows
    ins = [(900001 + i, 5000 + i) for i in range(3)]
    data_002 = [
        {
            "_hoodie_commit_time": "002",
            "_hoodie_record_key": str(r.k),
            "_hoodie_partition_path": "",
            "k": r.k,
            "cents": r.cents + 1000,
        }
        for r in upd
    ] + [
        {
            "_hoodie_commit_time": "002",
            "_hoodie_record_key": str(k),
            "_hoodie_partition_path": "",
            "k": k,
            "cents": c,
        }
        for k, c in ins
    ]
    cdc_002 = [
        {
            "op": "u",
            "ts_ms": "002",
            "before": {"k": r.k, "cents": r.cents},
            "after": {"k": r.k, "cents": r.cents + 1000},
        }
        for r in upd
    ] + [
        {"op": "i", "ts_ms": "002", "before": None,
         "after": {"k": k, "cents": c}}
        for k, c in ins
    ]
    # deletes act on the post-002 state: k % 9 == 0 (k=9 carries its
    # UPDATED cents in the before image; inserted keys are never % 9)
    live2 = {r.k: r.cents + 1000 for r in upd}
    live2.update({r.k: r.cents for r in seed.collect() if r.k > 10})  # bounded-driver: <=300 rows
    live2.update(dict(ins))
    dels = sorted(k for k in live2 if k % 9 == 0)
    cdc_003 = [
        {
            "op": "d",
            "ts_ms": "003",
            "before": {"k": k, "cents": live2[k]},
            "after": None,
        }
        for k in dels
    ]

    with open(f"{t}/.f1_001.log.1_0-1-0", "wb") as fh:
        fh.write(
            write_data_block(rec_schema, data_002, "002")
            + write_delete_block([(str(k), "") for k in dels], "003")
        )
    with open(f"{t}/.f1_001.log.1_0-1-0-cdc", "wb") as fh:
        fh.write(
            write_cdc_data_block(cdc_002, "002", "data_before_after",
                                 img_schema)
            + write_cdc_data_block(cdc_003, "003", "data_before_after",
                                   img_schema)
            # inflight instant: NOT in the timeline, must be invisible
            + write_cdc_data_block(
                [{"op": "i", "ts_ms": "004", "before": None,
                  "after": {"k": 999999, "cents": 1}}],
                "004", "data_before_after", img_schema,
            )
        )

    _os.makedirs(f"{t}/.hoodie")
    with open(f"{t}/.hoodie/hoodie.properties", "w") as fh:
        fh.write(
            "hoodie.table.name=qc\nhoodie.table.type=MERGE_ON_READ\n"
            "hoodie.table.cdc.enabled=true\n"
            "hoodie.table.cdc.supplemental.logging.mode=data_before_after\n"
        )
    for instant, action in (("001", "commit"), ("002", "deltacommit"),
                            ("003", "deltacommit")):
        with open(f"{t}/.hoodie/{instant}.{action}", "w") as fh:
            fh.write("{}")

    feed = read_hudi_cdc(spark, t)
    cdc_agg = (
        feed.groupBy(
            F.concat_ws(":", F.lit("cdc"), F.col("commit_time"),
                        F.col("op")).alias("kind")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.get_json_object("before", "$.cents").cast("bigint")
            ).alias("sum_before"),
            F.sum(
                F.get_json_object("after", "$.cents").cast("bigint")
            ).alias("sum_after"),
        )
    )
    snap = read_hudi(spark, t).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.lit(None).cast("bigint").alias("sum_before"),
        F.sum("cents").cast("bigint").alias("sum_after"),
    ).select(F.lit("snapshot").alias("kind"), "n", "sum_before", "sum_after")
    # materialize the result: later actions skip the temp table's files
    return cut_lineage(cdc_agg.unionByName(snap).orderBy("kind"), eager=True)


@query(
    "iceberg_export_dv_partitioned",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS part
        FROM orders WHERE o_orderkey <= 600),
    visible AS (
        SELECT * FROM seed
        WHERE NOT (k <= 150) AND NOT (cents > 30000000))
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM visible GROUP BY part ORDER BY part
    """,
)
def iceberg_export_dv_partitioned(spark, sf_dir):
    """PARTITIONED snapshot + deletion vectors -> Iceberg v2 export
    with per-partition POSITION DELETE files (sources/iceberg_meta.py
    ``export_snapshot_to_iceberg``): an orders slice becomes a snapshot
    table partitioned by order status, two DV deletes land rows across
    every partition, the export re-buckets the DV rows into one delete
    file per partition (the spec binds each position-delete file to one
    partition tuple), and ``read_iceberg`` — the independent
    manifest-replaying reader — must see exactly the visible rows.  The
    oracle replays the same deletes in SQL, so what's checked is the
    rewrite's partition bucketing and the delete/data sequence ordering.

    Scale: the rewrite is one executor-side job over O(deleted rows)
    (DV parquets are tiny relative to data); data files still export
    zero-copy.  Reads stay ordinary parquet scans + a broadcast
    anti-join of the delete rows."""
    import tempfile

    from ..runtime.snapshots import SnapshotTable
    from ..sources.iceberg_meta import export_snapshot_to_iceberg, read_iceberg

    seed = _orders_cents(
        spark, sf_dir, 600, F.col("o_orderstatus").alias("part")
    )
    root = tempfile.mkdtemp(prefix="ice_dvp_") + "/tbl"
    t = SnapshotTable(spark, root)
    t.create(seed, partition_by=["part"])
    t.delete_where_dv([("k", "<=", 150)])
    t.delete_where_dv([("cents", ">", 30_000_000)])
    export_snapshot_to_iceberg(t)
    return (
        read_iceberg(spark, root)
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("part")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "iceberg_v3_dv_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 400),
    visible AS (SELECT * FROM seed WHERE k % 3 <> 0)
    SELECT CAST(k % 5 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM visible GROUP BY k % 5 ORDER BY bucket
    """,
)
def iceberg_v3_dv_read(spark, sf_dir):
    """Iceberg FORMAT VERSION 3 deletion-vector read
    (sources/puffin.py + iceberg_meta._parse_manifest): a spec-built v3
    table — two data parquet files plus ONE puffin file holding a
    deletion-vector-v1 blob per data file (portable Roaring64,
    cross-validated byte-for-byte against the RoaringBitmap jar in
    Spark's JVM) — tracked by content=1 PUFFIN manifest entries with
    referenced_data_file/content_offset/content_size_in_bytes, read
    back through the footer-free slice path.  The DVs kill every row
    whose key is divisible by 3; the oracle applies the same predicate,
    so what's value-checked is the blob decode, the per-file position
    binding, and the anti-join application.

    Scale: DV blobs decode INSIDE executor tasks from (path, offset,
    size) descriptors; the data scan and the single broadcast anti-join
    are the same shape as the v2 position-delete path."""
    import copy as _copy
    import json as _json
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..sources.avro_lite import write_avro_file
    from ..sources.iceberg_meta import (
        _MANIFEST_FILE_SCHEMA,
        _entry_schema_for,
        read_iceberg,
    )
    from ..sources.puffin import encode_dv_blob, write_puffin

    t = _tempfile.mkdtemp(prefix="ice_v3dv_q_") + "/tbl"
    _os.makedirs(_os.path.join(t, "data"))
    _os.makedirs(_os.path.join(t, "metadata"))
    seed = _orders_cents(spark, sf_dir, 400)

    def data_file(name, df):
        """One sorted single-file parquet; returns (path, sorted keys)."""
        tmp = _os.path.join(t, "_tmp")
        df.coalesce(1).sortWithinPartitions("k").write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(
            n for n in _os.listdir(tmp) if n.endswith(".parquet")
        )
        dest = _os.path.join(t, "data", name)
        _os.replace(_os.path.join(tmp, part), dest)
        _shutil.rmtree(tmp)
        rows = df.select("k").orderBy(
            "k"
        ).collect()  # bounded-driver: fixture builder, <=400 keys (k<=400)
        keys = [r.k for r in rows]
        return dest, keys

    fa, keys_a = data_file("fa.parquet", seed.where(F.col("k") <= 200))
    fb, keys_b = data_file("fb.parquet", seed.where(F.col("k") > 200))

    blobs = []
    for path, keys in ((fa, keys_a), (fb, keys_b)):
        dead = [pos for pos, k in enumerate(keys) if k % 3 == 0]
        blobs.append(
            (
                "deletion-vector-v1",
                encode_dv_blob(dead),
                {"referenced-data-file": path,
                 "cardinality": str(len(dead))},
            )
        )
    puffin_bytes, metas = write_puffin(blobs)
    puf = _os.path.join(t, "data", "dvs.puffin")
    with open(puf, "wb") as fh:
        fh.write(puffin_bytes)

    entry_schema = _entry_schema_for([])
    df_fields = entry_schema["fields"][1]["type"]["fields"]
    df_fields.append(
        {"name": "referenced_data_file", "type": ["null", "string"],
         "field-id": 143}
    )
    df_fields.append(
        {"name": "content_offset", "type": ["null", "long"],
         "field-id": 144}
    )
    df_fields.append(
        {"name": "content_size_in_bytes", "type": ["null", "long"],
         "field-id": 145}
    )

    def entry(path, content=0, fmt="PARQUET", ref=None, off=None, size=None):
        return {
            "status": 1,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": fmt,
                "record_count": 1,
                "file_size_in_bytes": 1,
                "lower_bounds": {},
                "upper_bounds": {},
                "partition": {},
                "referenced_data_file": ref,
                "content_offset": off,
                "content_size_in_bytes": size,
            },
        }

    m1 = _os.path.join(t, "metadata", "m1.avro")
    with open(m1, "wb") as fh:
        fh.write(
            write_avro_file(entry_schema, [entry(fa), entry(fb)], "deflate")
        )
    md = _os.path.join(t, "metadata", "md.avro")
    with open(md, "wb") as fh:
        fh.write(
            write_avro_file(
                entry_schema,
                [
                    entry(puf, content=1, fmt="PUFFIN", ref=p,
                          off=m["offset"], size=m["length"])
                    for p, m in zip((fa, fb), metas)
                ],
                "deflate",
            )
        )
    ml = _os.path.join(t, "metadata", "snap-1.avro")
    rows = [
        {"manifest_path": mp, "manifest_length": _os.path.getsize(mp),
         "partition_spec_id": 0, "content": c, "sequence_number": 1,
         "min_sequence_number": 1, "added_snapshot_id": 1}
        for mp, c in ((m1, 0), (md, 1))
    ]
    with open(ml, "wb") as fh:
        fh.write(write_avro_file(_copy.deepcopy(_MANIFEST_FILE_SCHEMA), rows))
    meta = {
        "format-version": 3,
        "table-uuid": "0000",
        "location": t,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "cents", "required": False,
                 "type": "long"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                       "manifest-list": ml,
                       "summary": {"operation": "delete"}}],
        "current-snapshot-id": 1,
        "snapshot-log": [{"timestamp-ms": 1, "snapshot-id": 1}],
    }
    with open(_os.path.join(t, "metadata", "v1.metadata.json"), "w") as fh:
        _json.dump(meta, fh)

    return (
        read_iceberg(spark, t)
        .groupBy((F.col("k") % 5).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("bucket")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "hudi_hfile_block_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 350),
    ups AS (
        SELECT k, cents + 1000 AS cents FROM seed WHERE k <= 12
        UNION ALL
        SELECT 900001 + i AS k, CAST(7000 + i AS BIGINT) AS cents
        FROM (SELECT UNNEST([0, 1, 2, 3]) AS i)),
    v2 AS (
        SELECT k, CASE WHEN k <= 12 THEN cents + 1000 ELSE cents END AS cents
        FROM seed
        UNION ALL
        SELECT k, cents FROM ups WHERE k > 900000),
    v3 AS (SELECT * FROM v2 WHERE k % 8 <> 0)
    SELECT snap, CAST(n AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS sum_cents
    FROM (
        SELECT 1 AS snap, COUNT(*) AS n, SUM(cents) AS sum_cents FROM seed
        UNION ALL SELECT 2, COUNT(*), SUM(cents) FROM v2
        UNION ALL SELECT 3, COUNT(*), SUM(cents) FROM v3
    ) ORDER BY snap
    """,
)
def hudi_hfile_block_read(spark, sf_dir):
    """Hudi MOR read over an HFILE data block (``HoodieLogBlockType``
    ordinal 4 — the metadata-table payload format, closing the LAST
    Hudi log refusal): the delta upserts+inserts ride an
    HFILE_DATA_BLOCK whose content is a complete HBase HFile
    (sources/hfile_lite.py — v3 trailer, SNAPPY-compressed blocks
    (Hadoop block framing over pyarrow's raw snappy codec), CRC32C
    per-block checksums, mvcc vlongs, i.e. the whole
    RFC-84 surface), row key = record key, cell value = a bare Avro
    datum.  A v3 delete block follows, and the MOR snapshot merge must
    produce identical per-key latest-wins state at each instant.  The
    oracle replays the same upsert/insert/delete waves in SQL, so
    what's value-checked is the HFile decode itself (trailer/protobuf/
    KeyValue/checksum/snappy layers) plus commit filtering and the
    merge.  gz-compressed blocks stay pinned by
    hudi_metadata_table_read and tests/test_hfile_lite.py.

    Scale: identical to every MOR read here — the HFile payload decodes
    INSIDE the executor task that parses the file group (hfile_lite is
    picklable pure Python over bytes); the driver never touches block
    bytes."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..sources.hudi_log import write_delete_block, write_hfile_data_block
    from ..sources.hudi_meta import read_hudi

    t = _tempfile.mkdtemp(prefix="hudi_hfblk_q_") + "/tbl"
    _os.makedirs(t)
    seed = _orders_cents(spark, sf_dir, 350)

    base = seed.selectExpr(
        "'001' as _hoodie_commit_time",
        "cast(k as string) as _hoodie_record_key",
        "'' as _hoodie_partition_path",
        "k",
        "cents",
    )
    base.coalesce(1).write.parquet(t + "/_s")
    part = next(n for n in _os.listdir(t + "/_s") if n.endswith(".parquet"))
    _os.replace(f"{t}/_s/{part}", f"{t}/f1_0-1-0_001.parquet")
    _shutil.rmtree(t + "/_s")

    rec_schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "_hoodie_commit_time", "type": "string"},
            {"name": "_hoodie_record_key", "type": "string"},
            {"name": "_hoodie_partition_path", "type": "string"},
            {"name": "k", "type": "long"},
            {"name": "cents", "type": "long"},
        ],
    }
    ups = [
        {
            "_hoodie_commit_time": "002",
            "_hoodie_record_key": str(r.k),
            "_hoodie_partition_path": "",
            "k": r.k,
            "cents": r.cents + 1000,
        }
        for r in seed.where(F.col("k") <= 12).collect()  # bounded-driver: <=12 rows (k<=12 cap)
    ] + [
        {
            "_hoodie_commit_time": "002",
            "_hoodie_record_key": str(900001 + i),
            "_hoodie_partition_path": "",
            "k": 900001 + i,
            "cents": 7000 + i,
        }
        for i in range(4)
    ]
    del_keys = [
        (str(r.k), "")
        for r in seed.where(F.col("k") % 8 == 0).collect()  # bounded-driver: <=43 rows (k<=350 cap)
    ] + [(str(900001 + i), "") for i in range(4) if (900001 + i) % 8 == 0]
    payload = write_hfile_data_block(
        rec_schema,
        ups,
        "002",
        key_field="_hoodie_record_key",
        compression="snappy",
        block_size=2048,
        include_mvcc=True,
    ) + write_delete_block(del_keys, "003")
    with open(f"{t}/.f1_001.log.1_0-1-0", "wb") as fh:
        fh.write(payload)

    _os.makedirs(f"{t}/.hoodie")
    with open(f"{t}/.hoodie/hoodie.properties", "w") as fh:
        fh.write("hoodie.table.name=qh\nhoodie.table.type=MERGE_ON_READ\n")
    for instant, action in (("001", "commit"), ("002", "deltacommit"),
                            ("003", "deltacommit")):
        with open(f"{t}/.hoodie/{instant}.{action}", "w") as fh:
            fh.write("{}")

    outs = [
        read_hudi(spark, t, as_of=as_of)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit(snap).alias("snap"), "n", "sum_cents")
        for snap, as_of in ((1, "001"), (2, "002"), (3, None))
    ]
    return (
        outs[0].unionByName(outs[1]).unionByName(outs[2])
        .orderBy("snap")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "iceberg_partition_evolution_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               'p' || CAST(o_orderkey % 3 AS VARCHAR) AS pt
        FROM orders WHERE o_orderkey <= 240),
    old_files AS (SELECT * FROM seed WHERE k <= 120),
    new_files AS (SELECT * FROM seed WHERE k > 120)
    SELECT pt, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM (SELECT * FROM old_files UNION ALL SELECT * FROM new_files)
    GROUP BY pt ORDER BY pt
    """,
)
def iceberg_partition_evolution_read(spark, sf_dir):
    """Iceberg PARTITION EVOLUTION read (spec §Partition Evolution,
    r11): the table evolved unpartitioned -> identity(pt), so the OLD
    manifest's partition records lack the pt field entirely (spec 0)
    and pt lives in the old data files, while the NEW manifest (spec 1)
    covers hive-layout files WITHOUT the column, supplying pt as
    manifest constants.  A reader that applies only the default spec
    misreads one half; ours resolves identity constants PER MANIFEST
    (iceberg_meta.py read path).  The oracle replays both halves in
    SQL, so what's value-checked is exactly the per-spec constant
    attachment and the in-data fallback.

    Scale: identical to every iceberg read — driver parses metadata +
    two Avro hops, data files scan as pinned-schema parquet; evolution
    adds one extra scan group per distinct attached-column set."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..sources.avro_lite import write_avro_file
    from ..sources.iceberg_meta import read_iceberg

    t = _tempfile.mkdtemp(prefix="ice_pe_q_") + "/tbl"
    _os.makedirs(t + "/metadata")
    seed = _orders_cents(
        spark,
        sf_dir,
        240,
        F.concat(F.lit("p"), (F.col("o_orderkey") % 3).cast("string")).alias("pt"),
    )

    def land(df, rel):
        tmp = f"{t}/_s"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(n for n in _os.listdir(tmp) if n.endswith(".parquet"))
        dest = f"{t}/data/{rel}"
        _os.makedirs(_os.path.dirname(dest), exist_ok=True)
        _os.replace(f"{tmp}/{part}", dest)
        _shutil.rmtree(tmp)
        return dest

    # old-spec file: pt IN the data, no partition field in the manifest
    old_path = land(seed.where(F.col("k") <= 120), "old.parquet")
    # new-spec files: hive layout per pt, column absent from the files
    new_side = seed.where(F.col("k") > 120)
    pts = sorted(r.pt for r in new_side.select("pt").distinct().collect())  # bounded-driver: <=3 rows (pt domain)
    new_paths = [
        (land(new_side.where(F.col("pt") == p).drop("pt"),
              f"pt={p}/new.parquet"), p)
        for p in pts
    ]

    def entry_schema(with_partition):
        fields = [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
        ]
        if with_partition:
            fields.append({
                "name": "partition",
                "type": {"type": "record", "name": "r102",
                         "fields": [{"name": "pt",
                                     "type": ["null", "string"]}]},
            })
        fields += [
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
        ]
        return {
            "type": "record", "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"]},
                {"name": "sequence_number", "type": ["null", "long"]},
                {"name": "data_file",
                 "type": {"type": "record", "name": "data_file_r",
                          "fields": fields}},
            ],
        }

    def entry(path, pv=None, with_partition=False):
        df = {"content": 0, "file_path": path, "file_format": "PARQUET",
              "record_count": 1, "file_size_in_bytes": 1}
        if with_partition:
            df["partition"] = pv
        return {"status": 1, "snapshot_id": 1, "sequence_number": 1,
                "data_file": df}

    m_old = f"{t}/metadata/m-old.avro"
    with open(m_old, "wb") as fh:
        fh.write(write_avro_file(entry_schema(False), [entry(old_path)]))
    m_new = f"{t}/metadata/m-new.avro"
    with open(m_new, "wb") as fh:
        fh.write(write_avro_file(
            entry_schema(True),
            [entry(p, {"pt": pt}, True) for p, pt in new_paths],
        ))
    mf_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "added_snapshot_id", "type": "long"},
        ],
    }
    ml = f"{t}/metadata/snap-1.avro"
    with open(ml, "wb") as fh:
        fh.write(write_avro_file(mf_schema, [
            {"manifest_path": mp, "manifest_length": _os.path.getsize(mp),
             "partition_spec_id": sid, "content": 0, "sequence_number": 1,
             "added_snapshot_id": 1}
            for mp, sid in ((m_old, 0), (m_new, 1))
        ]))
    meta = {
        "format-version": 2,
        "table-uuid": "0000",
        "location": t,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "cents", "required": False,
                 "type": "long"},
                {"id": 3, "name": "pt", "required": False,
                 "type": "string"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [
            {"spec-id": 0, "fields": []},
            {"spec-id": 1, "fields": [
                {"name": "pt", "transform": "identity", "source-id": 3,
                 "field-id": 1000}]},
        ],
        "default-spec-id": 1,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                       "manifest-list": ml,
                       "summary": {"operation": "append"}}],
        "current-snapshot-id": 1,
        "snapshot-log": [{"timestamp-ms": 1, "snapshot-id": 1}],
    }
    with open(f"{t}/metadata/v1.metadata.json", "w") as fh:
        _json.dump(meta, fh)

    return (
        read_iceberg(spark, t)
        .groupBy("pt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("pt")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "hudi_metadata_table_read",
    oracle="""
    WITH seed AS (
        SELECT 'p' || CAST(o_orderkey % 4 AS VARCHAR) AS pt,
               'f' || CAST(o_orderkey AS VARCHAR) || '.parquet' AS fname,
               CAST(ROUND(o_totalprice) AS BIGINT) AS fsize,
               o_orderkey % 7 = 0 AS deleted
        FROM orders WHERE o_orderkey <= 200)
    SELECT pt AS key,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN deleted THEN 0 ELSE fsize END) AS BIGINT)
               AS live_bytes,
           CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deleted
    FROM seed GROUP BY pt ORDER BY key
    """,
)
def hudi_metadata_table_read(spark, sf_dir):
    """Hudi METADATA TABLE read (r11): the `.hoodie/metadata` files
    partition is a MOR table whose BASE files are HFILES
    (HoodieAvroHFileWriter) keyed by partition path, each value a
    HoodieMetadataRecord avro datum nesting a map<file -> (size,
    isDeleted)>.  The fixture lands the file listings for 4 partitions
    as a gz-compressed HFile base (schema in the file-info `schema`
    entry, exactly the writer's layout), reads it back through
    read_hudi's hfile-base path, EXPLODES the filesystemMetadata map
    JVM-side and aggregates per-partition live bytes — the file-listing
    query a metadata-table-backed planner runs.  The oracle replays the
    same listing arithmetic in SQL, so what's value-checked is the
    HFile base decode + complex-avro mapping + map explosion.

    Scale: one executor task per hfile base file (the real metadata
    table shards partitions across file groups); the map explosion and
    aggregation are JVM-side; the driver opens one file for schema
    only."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..sources.avro_lite import encode_datum
    from ..sources.hfile_lite import write_hfile
    from ..sources.hudi_meta import read_hudi

    t = _tempfile.mkdtemp(prefix="hudi_mdt_q_") + "/metadata"
    _os.makedirs(t + "/files")

    seed = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 200)
        .select(
            F.concat(F.lit("p"), (F.col("o_orderkey") % 4).cast("string")).alias("pt"),
            F.concat(F.lit("f"), F.col("o_orderkey").cast("string"),
                     F.lit(".parquet")).alias("fname"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("fsize"),
            (F.col("o_orderkey") % 7 == 0).alias("deleted"),
        )
    )
    listings: dict[str, dict] = {}
    for r in seed.collect():  # bounded-driver: <=200 rows (orderkey cap)
        listings.setdefault(r.pt, {})[r.fname] = {
            "size": r.fsize, "isDeleted": r.deleted,
        }
    schema = {
        "type": "record",
        "name": "HoodieMetadataRecord",
        "fields": [
            {"name": "key", "type": "string"},
            {"name": "type", "type": "int"},
            {"name": "filesystemMetadata", "type": ["null", {
                "type": "map",
                "values": {"type": "record",
                           "name": "HoodieMetadataFileInfo",
                           "fields": [
                               {"name": "size", "type": "long"},
                               {"name": "isDeleted", "type": "boolean"},
                           ]}}]},
        ],
    }
    pairs = sorted(
        (pt.encode(),
         encode_datum(schema, {"key": pt, "type": 2,
                               "filesystemMetadata": files}))
        for pt, files in listings.items()
    )
    blob = write_hfile(
        pairs, compression="gz",
        file_info_extra={b"schema": _json.dumps(schema).encode()},
    )
    with open(f"{t}/files/files-0000_0-1-0_001.hfile", "wb") as fh:
        fh.write(blob)
    _os.makedirs(f"{t}/.hoodie")
    with open(f"{t}/.hoodie/hoodie.properties", "w") as fh:
        fh.write("hoodie.table.name=mdt\nhoodie.table.type=MERGE_ON_READ\n")
    with open(f"{t}/.hoodie/001.deltacommit", "w") as fh:
        fh.write("{}")

    df = read_hudi(spark, t)
    exploded = df.select(
        F.col("key"),
        F.explode(F.col("filesystemMetadata")).alias("fname", "finfo"),
    )
    return (
        exploded.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(
                F.when(F.col("finfo.isDeleted"), F.lit(0))
                .otherwise(F.col("finfo.size"))
            ).cast("bigint").alias("live_bytes"),
            F.sum(
                F.when(F.col("finfo.isDeleted"), F.lit(1)).otherwise(F.lit(0))
            ).cast("bigint").alias("n_deleted"),
        )
        .orderBy("key")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )
