"""Round-4 additions: merge save modes exercised end-to-end under
oracles (upsert SCD1, scd2 history), BPE tokenizer training, global
ordered row numbering without the single-task window, char-bigram LM
perplexity scoring, and HTML boilerplate removal.

Separate module (imported after llm_ops3) so pre-existing ``queries()``
positions stay stable for the driver gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datasets import inline_frame, load_table, spread
from ..operators.iterate import cut_lineage
from . import query

try:  # generated by tools/gen_independent_oracles.py (committed artifact)
    from ._oracle_literals import BPE_MERGES_ORACLE, BPE_TOKEN_COUNT_ORACLE
except ImportError:  # pragma: no cover - pre-generation bootstrap only
    BPE_MERGES_ORACLE = BPE_TOKEN_COUNT_ORACLE = None


@query(
    "upsert_keyed_merge",
    oracle="""
    SELECT doc_id,
           md5(text || CASE WHEN doc_id > 200 THEN '!' ELSE '' END) AS h,
           CAST(CASE WHEN doc_id > 200 THEN 2 ELSE 1 END AS INTEGER) AS version,
           CAST(doc_id % 4 AS INTEGER) AS pt
    FROM documents WHERE doc_id <= 400 ORDER BY doc_id
    """,
)
def upsert_keyed_merge(spark, sf_dir):
    """End-to-end keyed upsert (``__save_mode__=upsert`` +
    ``__merge_keys__``) through the FULL output-step path — the save mode
    an incremental pipeline uses to land ``dedup_incremental`` admissions
    into the corpus table (reference CDC/Hudi upsert semantics,
    easy_sql/sql_processor/backend/flink.py:196-204,
    test/sample_etl.flink.postgres-cdc.sql:35-37).

    Seed: docs 1-300 as version 1 into a pt-partitioned warehouse table.
    Merge batch: docs 201-400 with recomputed hashes as version 2 —
    201-300 are SCD1 updates, 301-400 inserts, 1-200 must survive
    untouched.  The query returns the final TABLE STATE, so the oracle
    checks the merge itself, not a query over inputs.

    Scale: the copy-on-write merge reads back only partitions touched by
    the batch (incoming partitions ∪ matched-key partitions via one
    column-pruned semi-join — the parquet analogue of Hudi's index
    lookup); a 1-partition batch against a 100 TB table reads and
    rewrites one partition, not the table.  See
    runtime/backend.py ``_merge_upsert_frame``."""
    from ..runtime.processor import SqlProcessor

    # a fresh session's in-memory catalog forgets the table but its files
    # persist in the warehouse dir — drop both, or CTAS fails with
    # LOCATION_ALREADY_EXISTS on the second-ever run
    import os
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "upsq.db"), ignore_errors=True)

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("upsq_docs_v")
    etl = """-- backend: spark
-- prepare-sql: drop database if exists upsq cascade
-- prepare-sql: create database upsq

-- target=variables
select true as __create_output_table__, 'upsert' as __save_mode__, 'doc_id' as __merge_keys__, '' as __partition__pt

-- target=output.upsq.corpus
select doc_id, md5(text) as h, cast(1 as int) as version, cast(doc_id % 4 as int) as pt
from upsq_docs_v where doc_id <= 300

-- target=output.upsq.corpus
select doc_id, md5(concat(text, '!')) as h, cast(2 as int) as version, cast(doc_id % 4 as int) as pt
from upsq_docs_v where doc_id > 200 and doc_id <= 400
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    return (
        spark.table("upsq.corpus")
        .select("doc_id", "h", "version", F.col("pt").cast("int").alias("pt"))
        .orderBy("doc_id")
    )


@query(
    "scd2_history_merge",
    oracle="""
    WITH base AS (SELECT doc_id FROM documents WHERE doc_id <= 300),
    changed AS (SELECT doc_id FROM base WHERE CAST(doc_id % 3 AS INT) = 0),
    v1_closed AS (
        SELECT doc_id, md5(text) AS val, 1 AS start_at, 2 AS end_at, false AS is_current
        FROM documents WHERE doc_id <= 300 AND CAST(doc_id % 3 AS INT) = 0),
    v1_open AS (
        SELECT doc_id, md5(text) AS val, 1 AS start_at, CAST(NULL AS INT) AS end_at, true AS is_current
        FROM documents WHERE doc_id <= 300 AND CAST(doc_id % 3 AS INT) <> 0),
    v2 AS (
        SELECT doc_id, md5(text || '!') AS val, 2 AS start_at, CAST(NULL AS INT) AS end_at, true AS is_current
        FROM documents WHERE doc_id <= 300 AND CAST(doc_id % 3 AS INT) = 0),
    news AS (
        SELECT doc_id,
               CASE WHEN CAST(doc_id % 3 AS INT) = 0 THEN md5(text || '!')
                    ELSE md5(text) END AS val,
               2 AS start_at, CAST(NULL AS INT) AS end_at, true AS is_current
        FROM documents WHERE doc_id > 300 AND doc_id <= 350)
    SELECT doc_id, val, CAST(start_at AS INT) AS start_at,
           CAST(end_at AS INT) AS end_at, is_current
    FROM (SELECT * FROM v1_closed UNION ALL SELECT * FROM v1_open
          UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM news)
    ORDER BY doc_id, start_at
    """,
)
def scd2_history_merge(spark, sf_dir):
    """End-to-end SCD2 merge (``__save_mode__=scd2``) through the FULL
    output-step path — history-keeping CDC apply, one step past
    ``upsert_keyed_merge``'s SCD1 semantics.

    Seed: docs 1-300 at ts=1.  Merge batch at ts=2: every doc_id % 3 == 0
    gets a changed value (its v1 row must CLOSE at ts=2 and a current v2
    row insert), every other matched doc re-arrives UNCHANGED (must be a
    no-op — the idempotence contract), and docs 301-350 are new keys.
    The query returns the final TABLE STATE including both interval
    bounds and the current flag, so the oracle checks close/insert/no-op
    behavior row by row.  See runtime/backend.py ``_merge_scd2_frame``
    for the partition-pruned plan."""
    from ..runtime.processor import SqlProcessor

    import os
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "scd2q.db"), ignore_errors=True)

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("scd2q_docs_v")
    etl = """-- backend: spark
-- prepare-sql: drop database if exists scd2q cascade
-- prepare-sql: create database scd2q

-- target=variables
select true as __create_output_table__, 'scd2' as __save_mode__,
       'doc_id' as __merge_keys__, 'ts' as __scd2_ts__

-- target=output.scd2q.dim
select doc_id, md5(text) as val, cast(1 as int) as ts
from scd2q_docs_v where doc_id <= 300

-- target=output.scd2q.dim
select doc_id,
       case when cast(doc_id % 3 as int) = 0 then md5(concat(text, '!'))
            else md5(text) end as val,
       cast(2 as int) as ts
from scd2q_docs_v where doc_id <= 350
"""
    SqlProcessor(spark, etl, logger=lambda m: None).run()
    t = spark.table("scd2q.dim")
    return t.select(
        "doc_id",
        "val",
        F.col("__start_at").cast("int").alias("start_at"),
        F.col("__end_at").cast("int").alias("end_at"),
        F.col("__is_current").alias("is_current"),
    ).orderBy("doc_id", "start_at")


@query("text_bpe_merges", oracle=BPE_MERGES_ORACLE)
# Oracle (r10): the trainer is ITERATIVE (each round's argmax depends on
# the previous merge's re-segmentation) — not SQL-expressible — so the
# oracle is independently-computed VALUES literals from a second
# clean-room BPE trainer (tools/gen_independent_oracles.py, shares no
# code with operators/bpe.py), dispatched per SF by a corpus fingerprint.
def text_bpe_merges(spark, sf_dir):
    """BPE tokenizer training over the scoped corpus (operators/bpe.py):
    learn 12 pair merges and return the merge table (rank, left, right,
    pair_weight).  The Spark implementation is additionally
    bit-exact-crosschecked against a pure-Python reference in
    tests/test_bpe.py (same discipline as the minhash folds).

    Scale: the working set after the first pass is the distinct-word
    vocabulary with multiplicities, so corpus size only affects the one
    tokenize+groupBy pass; each round is a narrow pair transform + a
    |pairs|-key aggregate + a driver-side argmax (the merge table is
    driver-sized by definition)."""
    from ..operators.bpe import bpe_train

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 400)
        .select("text")
    )
    merges = bpe_train(docs, n_merges=12)
    return inline_frame(
        spark, merges, "rank int, left string, right string, pair_weight long"
    ).orderBy("rank")


@query(
    "global_row_number_order",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1
                AS BIGINT) AS row_id
    FROM documents ORDER BY doc_id
    """,
)
def global_row_number_order(spark, sf_dir):
    """Contiguous global ordered ids WITHOUT the single-task global-window
    trap (operators/order.py): range-partitioned sort + per-partition
    offsets + monotonic-id arithmetic — every stage narrow or
    |partitions|-sized after the one ordering shuffle.  The oracle is the
    formulation you must NOT run at scale (row_number over a global
    ORDER BY) — both produce identical numbering because the order key
    (n_chars desc, doc_id) is unique."""
    from ..operators.order import global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    numbered = global_row_number(
        docs, [F.col("n_chars").desc(), F.col("doc_id")], id_col="row_id"
    )
    return numbered.select("doc_id", "row_id").orderBy("doc_id")


@query(
    "text_lm_perplexity",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z ]', '', 'g') AS cs
        FROM documents WHERE doc_id <= 300),
    bg AS (
        SELECT doc_id, substr(cs, CAST(i AS INT), 2) AS b
        FROM s, UNNEST(range(1, length(cs))) AS t(i)),
    model AS (SELECT b, COUNT(*) AS cbg FROM bg GROUP BY b),
    uni AS (SELECT substr(b, 1, 1) AS c, SUM(cbg) AS cuni
            FROM model GROUP BY substr(b, 1, 1)),
    scored AS (
        SELECT bg.doc_id, ln(CAST(m.cbg AS DOUBLE) / u.cuni) AS lp
        FROM bg JOIN model m ON bg.b = m.b
        JOIN uni u ON substr(bg.b, 1, 1) = u.c)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(SUM(lp) / COUNT(*), 6) AS avg_logp,
           ROUND(exp(-SUM(lp) / COUNT(*)), 4) AS perplexity
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_lm_perplexity(spark, sf_dir):
    """Character-bigram language-model scoring — the perplexity-filter
    primitive of LLM data pipelines (docs whose perplexity under a
    corpus-trained LM is extreme are boilerplate or garbage).  Model =
    bigram/unigram count ratios trained on the same scoped corpus
    (self-trained ⇒ no zero probabilities, fully deterministic, exact
    DuckDB oracle modulo a 1e-6 rounding of the log sum).

    Scale: bigram explode is narrow; the model is a ≤|alphabet|² row
    aggregate that BROADCASTS back to the corpus (the corpus never
    shuffles for scoring); the per-doc groupBy is uniform.  Swapping the
    self-trained model for a fixed reference LM removes the training agg
    and keeps the same broadcast-score shape."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select(
            "doc_id",
            F.regexp_replace(F.lower("text"), "[^a-z ]", "").alias("cs"),
        )
    )
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(cs) - 1), i -> substr(cs, i, 2))")
        ).alias("b"),
    )
    # the trained model is a ≤|alphabet|² row summary consumed TWICE
    # (its own broadcast build and the unigram rollup's) — checkpointed
    # so the full corpus explode+aggregate behind it evaluates once, not
    # once per consumer; lazy: the first broadcast build is the
    # materializing full scan, so an eager form's dedicated job would be
    # pure scheduler constant
    model = (
        bg.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cbg"))
        .transform(cut_lineage, eager=False)
    )
    uni = model.groupBy(F.substring("b", 1, 1).alias("c")).agg(
        F.sum("cbg").alias("cuni")
    )
    scored = (
        bg.join(F.broadcast(model), "b")
        .join(
            F.broadcast(uni),
            F.substring(F.col("b"), 1, 1) == F.col("c"),
        )
        .select(
            "doc_id",
            F.log(F.col("cbg").cast("double") / F.col("cuni")).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias("avg_logp"),
            F.round(F.exp(-F.sum("lp") / F.count(F.lit(1))), 4).alias(
                "perplexity"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "text_html_boilerplate",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               '<html><head><title>Doc ' || doc_id || '</title></head>'
               || '<body><div class="nav">HOME | ABOUT | MENU</div><p>'
               || text || '</p><div class="footer">(c) site 2026</div>'
               || '</body></html>' AS html
        FROM documents WHERE doc_id <= 300),
    c AS (
        SELECT doc_id,
               regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
               trim(regexp_replace(regexp_replace(regexp_replace(html,
                   '<div class="(nav|footer)">.*?</div>', '', 'g'),
                   '<[^>]*>', ' ', 'g'),
                   '\\s+', ' ', 'g')) AS clean
        FROM h)
    SELECT doc_id, title,
           CAST(length(clean) AS BIGINT) AS clean_chars,
           md5(clean) AS clean_hash
    FROM c ORDER BY doc_id
    """,
)
def text_html_boilerplate(spark, sf_dir):
    """HTML boilerplate removal — the web-corpus cleaning primitive
    (trafilatura-lite): title extraction, nav/footer chrome removal by
    structural pattern, tag stripping, whitespace normalization.  The
    HTML is synthesized deterministically from the documents fixture
    (same discipline as the multimodal payloads), so the DuckDB oracle
    reproduces the cleaned text bit-for-bit (md5-compared).  Patterns
    stay in the Java/RE2-common regex subset (no lookaround) — the same
    portability rule text_pii_redact documents.

    Scale: one narrow per-row regex chain, no shuffle until the final
    ORDER BY of the (scoped) result — embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    html = F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</title></head><body><div class="nav">HOME | ABOUT | MENU</div><p>'),
        F.col("text"),
        F.lit('</p><div class="footer">(c) site 2026</div></body></html>'),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    html, '<div class="(nav|footer)">.*?</div>', ""
                ),
                "<[^>]*>",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.regexp_extract(html, "<title>([^<]*)</title>", 1).alias("title"),
        F.length(clean).cast("bigint").alias("clean_chars"),
        F.md5(clean).alias("clean_hash"),
    ).orderBy("doc_id")


@query(
    "text_stratified_sample",
    oracle="""
    WITH rates(source, pct) AS (VALUES ('src0', 10), ('src1', 50),
                                       ('src2', 100), ('src3', 25),
                                       ('src4', 25)),
    h AS (
        SELECT d.source, d.doc_id,
               CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2))::INT
                    AS INT) AS bucket, r.pct
        FROM documents d JOIN rates r ON d.source = r.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM h WHERE bucket * 100 < pct * 256
    GROUP BY source ORDER BY source
    """,
)
def text_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — per-source rates via an md5
    hash threshold instead of ``sampleBy`` randomness, so the sample is
    REPRODUCIBLE across runs, engines and cluster sizes (the property a
    training-data pipeline needs for auditable mixtures; df.sampleBy
    seeds differently per partitioning).  The rate table broadcasts; the
    corpus pass is one narrow hash+filter, no shuffle before the small
    per-source aggregate."""
    rates = inline_frame(
        spark,
        [("src0", 10), ("src1", 50), ("src2", 100), ("src3", 25), ("src4", 25)],
        "source string, pct int",
    )
    d = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    return (
        d.join(F.broadcast(rates), "source")
        .where(bucket * 100 < F.col("pct") * 256)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


@query(
    "events_funnel",
    oracle="""
    WITH w AS (
        SELECT user_id, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS a
        FROM events),
    w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > a THEN ts END)
                      OVER (PARTITION BY user_id) AS b
        FROM w),
    w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > b THEN ts END)
                      OVER (PARTITION BY user_id) AS c
        FROM w2),
    per_user AS (
        SELECT user_id, max(a) AS a, max(b) AS b, max(c) AS c
        FROM w3 GROUP BY user_id)
    SELECT CAST(COUNT(a) AS BIGINT) AS n_viewed,
           CAST(COUNT(b) AS BIGINT) AS n_clicked,
           CAST(COUNT(c) AS BIGINT) AS n_purchased,
           CASE WHEN COUNT(a) > 0
                THEN ROUND(CAST(COUNT(b) AS DOUBLE) / COUNT(a), 4) END
               AS conv_view_click,
           CASE WHEN COUNT(b) > 0
                THEN ROUND(CAST(COUNT(c) AS DOUBLE) / COUNT(b), 4) END
               AS conv_click_buy
    FROM per_user
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase, strictly
    later each step) — the classic product-analytics operator.

    Plan shape: THREE chained windows over the SAME partitioning
    (user_id), so Catalyst plans ONE exchange and runs the per-step
    conditional mins pipelined — no self-joins, no per-step shuffles
    (the naive formulation joins the event table to itself once per
    funnel step).  The final global aggregate is a single row."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    u = Window.partitionBy("user_id")
    a = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(u)
    step = e.withColumn("a", a)
    b = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("a")), F.col("ts"))
    ).over(u)
    step = step.withColumn("b", b)
    c = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("b")),
            F.col("ts"),
        )
    ).over(u)
    step = step.withColumn("c", c)
    per_user = step.groupBy("user_id").agg(
        F.max("a").alias("a"), F.max("b").alias("b"), F.max("c").alias("c")
    )
    # an EXPLICIT NULL when a funnel stage is empty, on BOTH sides: a
    # zero-view (or zero-click) corpus is an ANSI divide-by-zero crash
    # here while DuckDB silently emits NULL — the same cross-engine
    # 0-denominator class the r8 mixture fuzzer caught; found by the r9
    # funnel fuzzer (test_differential_fuzz.test_random_funnel_agrees)
    return per_user.agg(
        F.count("a").alias("n_viewed"),
        F.count("b").alias("n_clicked"),
        F.count("c").alias("n_purchased"),
        F.when(
            F.count("a") > 0,
            F.round(F.count("b").cast("double") / F.count("a"), 4),
        ).alias("conv_view_click"),
        F.when(
            F.count("b") > 0,
            F.round(F.count("c").cast("double") / F.count("b"), 4),
        ).alias("conv_click_buy"),
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, ts,
               min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events),
    marked AS (
        SELECT user_id,
               strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort,
               CAST(date_diff('day', date_trunc('day', first_ts),
                              date_trunc('day', ts)) // 7 AS INT) AS week_offset
        FROM firsts)
    SELECT cohort, week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
    FROM marked GROUP BY cohort, week_offset
    ORDER BY cohort, week_offset
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Weekly retention cohorts: users grouped by first-seen week, counted
    per activity-week offset — the cohort-retention matrix.

    Plan: one window over user_id for the first-seen timestamp, then one
    uniform groupBy (cohort, offset) with a distinct-count.  Dates format
    to strings (tz-stable oracle discipline)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_ts = F.min("ts").over(Window.partitionBy("user_id"))
    marked = e.withColumn("first_ts", first_ts).select(
        "user_id",
        F.date_format(F.date_trunc("week", F.col("first_ts")), "yyyy-MM-dd").alias(
            "cohort"
        ),
        F.floor(
            F.datediff(F.date_trunc("day", F.col("ts")),
                       F.date_trunc("day", F.col("first_ts"))) / 7
        ).cast("int").alias("week_offset"),
    )
    return (
        marked.groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort", "week_offset")
    )


@query(
    "text_gopher_filter",
    oracle="""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws,
               length(text) AS n_chars_raw,
               length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym
        FROM documents WHERE doc_id <= 400),
    m AS (
        SELECT doc_id,
               len(ws) AS n_words,
               CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                   / len(ws) AS mean_wlen,
               CAST(len(list_filter(ws, x -> x IN ('the','a','of','to','and','in')))
                   AS DOUBLE) / len(ws) AS stop_frac,
               CAST(n_sym AS DOUBLE) / n_chars_raw AS sym_frac
        FROM w WHERE len(ws) > 0)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_wlen, 4) AS mean_wlen,
           ROUND(stop_frac, 4) AS stop_frac,
           ROUND(sym_frac, 4) AS sym_frac,
           (n_words BETWEEN 10 AND 10000
            AND mean_wlen BETWEEN 2 AND 12
            AND stop_frac >= 0.01
            AND sym_frac <= 0.3) AS keep
    FROM m ORDER BY doc_id
    """,
)
def text_gopher_filter(spark, sf_dir):
    """Gopher-style composite quality filter — the rule stack real corpus
    cleaning applies before training: word-count bounds, mean-word-length
    bounds, minimum stopword fraction (text with no function words is
    usually boilerplate/lists), symbol-to-char ceiling.  Emits the
    per-rule metrics AND the combined keep flag so downstream can audit
    why a document dropped.  Pure narrow map over the corpus — the whole
    filter is embarrassingly parallel; formulas stay in the portable
    regex subset so the DuckDB oracle reproduces every value."""
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "to", "and", "in")])
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 400)
        .select(
            "doc_id",
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("ws"),
            F.length("text").alias("n_chars_raw"),
            F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).alias("n_sym"),
        )
        .where(F.size("ws") > 0)
    )
    n_words = F.size("ws")
    mean_wlen = (
        F.expr("aggregate(ws, 0L, (acc, x) -> acc + length(x))").cast("double")
        / n_words
    )
    stop_frac = (
        F.size(F.filter(F.col("ws"), lambda x: F.array_contains(stop, x))).cast(
            "double"
        )
        / n_words
    )
    sym_frac = F.col("n_sym").cast("double") / F.col("n_chars_raw")
    m = d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_wlen"),
        F.round(stop_frac, 4).alias("stop_frac"),
        F.round(sym_frac, 4).alias("sym_frac"),
        (
            n_words.between(10, 10000)
            & mean_wlen.between(2, 12)
            & (stop_frac >= 0.01)
            & (sym_frac <= 0.3)
        ).alias("keep"),
    )
    return m.orderBy("doc_id")


@query(
    "events_daily_anomaly",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    stats AS (
        SELECT event_type,
               avg(n) OVER (PARTITION BY event_type) AS mu,
               stddev_pop(n) OVER (PARTITION BY event_type) AS sigma,
               day, n
        FROM daily)
    SELECT event_type, day, n,
           ROUND((n - mu) / sigma, 4) AS z,
           (abs((n - mu) / sigma) > 2) AS is_anomaly
    FROM stats ORDER BY event_type, day
    """,
)
def events_daily_anomaly(spark, sf_dir):
    """Volume anomaly detection on the event stream: per-type daily
    counts z-scored against that type's own distribution — the
    monitoring query every ingestion pipeline runs to catch drops and
    spikes.  Plan: one uniform (type, day) aggregate, then an analytic
    window partitioned by type (a handful of partitions with ~30 rows
    each — the window input is the AGGREGATED series, never raw
    events)."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type")
    mu = F.avg("n").over(w)
    sigma = F.stddev_pop("n").over(w)
    return daily.select(
        "event_type",
        "day",
        "n",
        F.round((F.col("n") - mu) / sigma, 4).alias("z"),
        (F.abs((F.col("n") - mu) / sigma) > 2).alias("is_anomaly"),
    ).orderBy("event_type", "day")


@query(
    "interval_overlap_join",
    oracle="""
    WITH l AS (
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ls,
               CAST(floor(epoch(ts)) AS BIGINT)
                   + CAST(floor(value * 60) AS BIGINT) AS le
        FROM events WHERE event_id < 2000),
    r AS (
        SELECT event_id AS probe_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS rs,
               CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS re
        FROM events WHERE event_id % 97 = 0 AND event_id < 20000)
    SELECT l.event_id, r.probe_id,
           CAST(greatest(l.ls, r.rs) AS BIGINT) AS overlap_start,
           CAST(least(l.le, r.re) AS BIGINT) AS overlap_end
    FROM l JOIN r ON l.ls <= r.re AND r.rs <= l.le
    ORDER BY event_id, probe_id
    """,
)
def interval_overlap_join(spark, sf_dir):
    """Interval-overlap join via the grid-bucketed equi-join
    (operators/intervals.py): sessions-vs-probe-windows overlap, the
    shape behind ad-attribution windows, downtime overlap, IP-range
    joins.  The DuckDB oracle runs the THETA formulation directly (fine
    at oracle scale); the Spark side must produce identical pairs from
    the cell equi-join + canonical-cell suppression — an off-by-one in
    the bucketing or dedup logic breaks the match.  Plan: one hash
    shuffle on the cell id, no BNLJ, no distinct."""
    from ..operators.intervals import interval_join

    e = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("long")
    left = e.where(F.col("event_id") < 2000).select(
        "event_id",
        epoch.alias("ls"),
        (epoch + (F.col("value") * 60).cast("long")).alias("le"),
    )
    right = e.where((F.col("event_id") % 97 == 0) & (F.col("event_id") < 20000)).select(
        F.col("event_id").alias("probe_id"),
        epoch.alias("rs"),
        (epoch + 1800).alias("re"),
    )
    out = interval_join(left, right, "ls", "le", "rs", "re", bucket_width=3600)
    return out.select(
        "event_id",
        "probe_id",
        F.greatest("ls", "rs").cast("bigint").alias("overlap_start"),
        F.least("le", "re").cast("bigint").alias("overlap_end"),
    ).orderBy("event_id", "probe_id")


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
        SELECT doc_id, md5(text) AS val,
               CAST(CASE WHEN CAST(doc_id % 3 AS INT) = 0 THEN 5 ELSE 1 END
                    AS INT) AS start_at,
               CAST(CASE WHEN CAST(doc_id % 3 AS INT) = 0 THEN NULL ELSE NULL END
                    AS INT) AS end_at
        FROM documents WHERE doc_id <= 200
        UNION ALL
        SELECT doc_id, md5(text || 'v0') AS val, 1 AS start_at, 5 AS end_at
        FROM documents WHERE doc_id <= 200 AND CAST(doc_id % 3 AS INT) = 0),
    facts AS (
        SELECT doc_id, CAST(doc_id % 10 AS INT) AS at_ts
        FROM documents WHERE doc_id <= 200)
    SELECT f.doc_id, f.at_ts, d.val,
           CAST(d.start_at AS INT) AS version_start
    FROM facts f JOIN dim d
      ON f.doc_id = d.doc_id
     AND f.at_ts >= d.start_at
     AND (d.end_at IS NULL OR f.at_ts < d.end_at)
    ORDER BY f.doc_id, f.at_ts
    """,
)
def scd2_point_in_time_join(spark, sf_dir):
    """Point-in-time lookup against an SCD2 dimension: each fact joins the
    version whose [start, end) interval covers the fact's timestamp —
    the query every SCD2 table exists to answer.

    Plan shape: the interval predicate rides an EQUI join on the merge
    key (versions-per-key is small, so the post-join filter discards a
    bounded handful of rows) — no theta join, no BNLJ; at 100 TB this is
    one key-partitioned shuffle exactly like any fact-dim join.  The
    dimension here is built inline (keys % 3 == 0 carry two versions
    split at ts=5) so the oracle reproduces it verbatim."""
    d0 = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 200)
        .select("doc_id", "text")
    )
    current = d0.select(
        "doc_id",
        F.md5("text").alias("val"),
        F.when(F.col("doc_id") % 3 == 0, 5).otherwise(1).cast("int").alias(
            "start_at"
        ),
        F.lit(None).cast("int").alias("end_at"),
    )
    history = (
        d0.where(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.md5(F.concat(F.col("text"), F.lit("v0"))).alias("val"),
            F.lit(1).cast("int").alias("start_at"),
            F.lit(5).cast("int").alias("end_at"),
        )
    )
    dim = current.unionByName(history)
    facts = d0.select("doc_id", (F.col("doc_id") % 10).cast("int").alias("at_ts"))
    joined = facts.join(dim, "doc_id").where(
        (F.col("at_ts") >= F.col("start_at"))
        & (F.col("end_at").isNull() | (F.col("at_ts") < F.col("end_at")))
    )
    return joined.select(
        "doc_id", "at_ts", "val", F.col("start_at").alias("version_start")
    ).orderBy("doc_id", "at_ts")


@query(
    "text_unicode_nfc",
    oracle="""
    WITH decomposed AS (
        SELECT doc_id,
               replace(substr(text, 1, 80), 'e', 'e' || chr(769)) AS raw
        FROM documents WHERE doc_id <= 300),
    norm AS (
        SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM decomposed)
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_cp_raw,
           CAST(length(nfc) AS BIGINT) AS n_cp_nfc,
           md5(nfc) AS nfc_hash
    FROM norm ORDER BY doc_id
    """,
)
def text_unicode_nfc(spark, sf_dir):
    """Unicode NFC normalization — the canonicalization pass multilingual
    corpora need before dedup/hashing (decomposed e+COMBINING ACUTE and
    precomposed é hash differently but are the same text).  The corpus
    is ASCII, so combining marks are synthesized deterministically
    (every 'e' becomes e+U+0301) and both engines must agree on the
    composed form: Spark normalizes via an Arrow-batched pandas UDF over
    Python's unicodedata (no JVM builtin exposes NFC), DuckDB via its
    native nfc_normalize — two INDEPENDENT Unicode implementations
    md5-compared, plus the code-point counts before/after.  The UDF is a
    narrow vectorized map; at 100 TB this is an embarrassingly parallel
    scan like the other text cleaners."""
    from pyspark.sql.functions import pandas_udf

    # no type annotations: the module uses postponed annotation evaluation
    # (PEP 563) and pandas_udf cannot resolve the stringified hints here
    @pandas_udf("string")
    def nfc(col):
        import unicodedata

        return col.map(lambda s: unicodedata.normalize("NFC", s))

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select(
            "doc_id",
            F.regexp_replace(
                F.substring("text", 1, 80), "e", "é"
            ).alias("raw"),
        )
    )
    out = d.withColumn("nfc", nfc("raw"))
    return out.select(
        "doc_id",
        F.length("raw").cast("bigint").alias("n_cp_raw"),
        F.length("nfc").cast("bigint").alias("n_cp_nfc"),
        F.md5(F.encode("nfc", "utf-8")).alias("nfc_hash"),
    ).orderBy("doc_id")


@query(
    "snapshot_time_travel",
    oracle="""
    WITH seed AS (SELECT doc_id FROM documents WHERE doc_id <= 300),
    late AS (SELECT doc_id FROM documents WHERE doc_id > 300 AND doc_id <= 350)
    SELECT * FROM (
      SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(doc_id) AS BIGINT) AS sum_doc, CAST(0 AS BIGINT) AS n_v2
      FROM seed
      UNION ALL
      SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
             CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM seed
      UNION ALL
      SELECT 3, CAST((SELECT COUNT(*) FROM seed) + COUNT(*) AS BIGINT),
             CAST((SELECT SUM(doc_id) FROM seed) + SUM(doc_id) AS BIGINT),
             CAST((SELECT SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                   FROM seed) AS BIGINT)
      FROM late
      UNION ALL
      SELECT 4, CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
             CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM seed
    ) ORDER BY version
    """,
)
def snapshot_time_travel(spark, sf_dir):
    """Versioned snapshot table end-to-end (runtime/snapshots.py): append
    a 300-doc corpus slice partitioned by ``pt = doc_id % 3``, replace
    only partition pt=0 via manifest-level dynamic-partition overwrite
    (version column flips to 2 there), append 50 late docs, then ROLL
    BACK to v2 — and read every version by time travel.  The result is
    per-version (count, sum, v2-row count), so the oracle pins append /
    partition-overwrite / rollback semantics, not just the final state.

    Reference analogue: the Hudi-versioned sinks the Flink samples rely
    on (test/sample_etl.flink.hudi-agg.sql:46) — here expressed as a
    manifest layer over plain parquet with atomic FS commits.

    Scale: every read is ONE parquet scan over exactly the live
    partition dirs of that version (the driver hands Spark the manifest's
    dir list — dead versions are never listed); the partition overwrite
    rewrites only pt=0's rows; rollback writes no data at all."""
    import tempfile

    from ..runtime.snapshots import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_q_"))
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    seed = docs.select(
        "doc_id",
        F.lit(1).alias("version"),
        (F.col("doc_id") % 3).cast("int").alias("pt"),
    )
    # capture every committed version (commit retries may shift numbering)
    v1 = t.create(seed, partition_by=["pt"])["version"]
    v2 = t.overwrite_partitions(
        seed.where(F.col("pt") == 0).withColumn("version", F.lit(2))
    )["version"]
    v3 = t.append(
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") > 300) & (F.col("doc_id") <= 350))
        .select(
            "doc_id",
            F.lit(1).alias("version"),
            (F.col("doc_id") % 3).cast("int").alias("pt"),
        )
    )["version"]
    v4 = t.rollback(v2)["version"]

    per_version = [
        t.read(version=v)
        .agg(
            F.lit(stage).alias("version"),
            F.count("*").alias("n"),
            F.sum("doc_id").cast("bigint").alias("sum_doc"),
            F.sum((F.col("version") == 2).cast("bigint")).alias("n_v2"),
        )
        for stage, v in enumerate((v1, v2, v3, v4), start=1)
    ]
    out = per_version[0]
    for p in per_version[1:]:
        out = out.unionByName(p)
    # materialize the result: later actions skip the temp table's files
    return cut_lineage(out.orderBy("version"), eager=True)


@query(
    "snapshot_merge_delete",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k, o_totalprice AS price FROM orders
        WHERE o_orderkey <= 2000),
    upd AS (SELECT k, price * 2 AS price FROM seed WHERE k % 7 = 0),
    ins AS (SELECT k + 1000000 AS k, price FROM seed WHERE k % 11 = 0),
    v2 AS (
        SELECT s.k, COALESCE(u.price, s.price) AS price
        FROM seed s LEFT JOIN upd u USING (k)
        UNION ALL SELECT * FROM ins),
    v3 AS (SELECT * FROM v2 WHERE NOT (k < 100)),
    agg AS (
      SELECT 1 AS version, COUNT(*) AS n, SUM(k) AS sum_k,
             ROUND(SUM(price), 2) AS sum_price FROM seed
      UNION ALL SELECT 2, COUNT(*), SUM(k), ROUND(SUM(price), 2) FROM v2
      UNION ALL SELECT 3, COUNT(*), SUM(k), ROUND(SUM(price), 2) FROM v3)
    SELECT CAST(version AS INT) AS version, CAST(n AS BIGINT) AS n,
           CAST(sum_k AS BIGINT) AS sum_k,
           CAST(sum_price AS DOUBLE) AS sum_price
    FROM agg ORDER BY version
    """,
)
def snapshot_merge_delete(spark, sf_dir):
    """Keyed MERGE (SCD1 upsert) + predicate DELETE on the snapshot
    layer (runtime/snapshots.py:merge/delete_where): seed an orders
    slice, upsert a batch that updates every 7th key and inserts shifted
    new keys, then delete keys < 100 — and read all three versions by
    time travel, so the oracle pins matched-replace, unmatched-insert,
    survivor, and delete semantics rather than just the final state.

    Scale: the merge probes the live dirs with a column-pruned scan
    semi-joined against the BROADCAST source key set and rewrites only
    dirs holding a matched key; the delete prunes dirs through the
    manifest's per-dir min/max stats before reading anything.  Both are
    serializable — concurrent commits conflict deterministically rather
    than losing updates."""
    import tempfile

    from ..runtime.snapshots import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_md_"))
    seed = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 2000)
        .select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price"))
    )
    # capture every committed version (commit retries may shift numbering)
    v1 = t.create(seed, stats_cols=["k"])["version"]
    src = (
        seed.where(F.col("k") % 7 == 0)
        .withColumn("price", F.col("price") * 2)
        .unionByName(
            seed.where(F.col("k") % 11 == 0)
            .select((F.col("k") + 1000000).alias("k"), "price")
        )
    )
    v2 = t.merge(src, keys=["k"])["version"]
    v3 = t.delete_where([("k", "<", 100)])["version"]

    per_version = [
        t.read(version=v).agg(
            F.lit(stage).cast("int").alias("version"),
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.sum("price"), 2).alias("sum_price"),
        )
        for stage, v in enumerate((v1, v2, v3), start=1)
    ]
    out = per_version[0]
    for p in per_version[1:]:
        out = out.unionByName(p)
    # materialize the result: later actions skip the temp table's files
    return cut_lineage(out.orderBy("version"), eager=True)


@query(
    "text_weighted_sample",
    oracle="""
    WITH pri AS (
        SELECT source, doc_id, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                    AS DOUBLE) / CAST(n_chars AS DOUBLE) AS xi
        FROM documents WHERE n_chars > 0),
    r AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY xi, doc_id)
                   AS sample_rank
        FROM pri)
    SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(sample_rank AS INT) AS sample_rank
    FROM r WHERE sample_rank <= 20
    ORDER BY source, sample_rank
    """,
)
def text_weighted_sample(spark, sf_dir):
    """Per-source weighted sample (20 docs/source, weight = doc length)
    via sequential Poisson sampling — deterministic PPS-ish selection
    for auditable training-data mixtures (operators/sampling.py).  The
    priority is an exact-integer hash divided by the weight, a single
    IEEE-exact operation, so Spark and DuckDB rank IDENTICALLY — the
    ln/pow-based exponential-key variant cannot promise that.

    Scale: one narrow hash projection + one window per source — a
    single shuffle, same envelope as any per-key top-k; skew-cappable
    via operators/skew.py first."""
    from ..operators.sampling import weighted_sample_per_key

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return (
        weighted_sample_per_key(d, ["source"], "doc_id", "n_chars", 20)
        .select(
            "source",
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("__rank").cast("int").alias("sample_rank"),
        )
        .orderBy("source", "sample_rank")
    )


@query(
    "text_paragraph_dedup",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words
        FROM documents WHERE doc_id <= 2000),
    c AS (
        SELECT doc_id, CAST(k AS INT) AS pos,
               array_to_string(words[CAST(k * 4 + 1 AS INT) : CAST(k * 4 + 4 AS INT)], ' ')
                   AS chunk,
               array_to_string(list_transform(
                   words[CAST(k * 4 + 1 AS INT) : CAST(k * 4 + 4 AS INT)],
                   x -> substr(x, 1, 1)), '') AS key
        FROM w, UNNEST(range(0, CAST(ceil(len(words) / 4.0) AS BIGINT))) AS t(k)),
    r AS (
        SELECT doc_id, pos, chunk,
               ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, pos) = 1
                   AS kept
        FROM c)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(CASE WHEN kept THEN chunk END, '|'
                                   ORDER BY pos), '')) AS kept_hash
    FROM r GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_paragraph_dedup(spark, sf_dir):
    """Cross-corpus paragraph-level dedup (the CCNet recipe: drop any
    paragraph whose NORMALIZED form already appeared anywhere in the
    corpus, keeping the first occurrence in (doc_id, position) order;
    docs shrink rather than disappear).  The fixture is word salad, so
    "paragraph" = non-overlapping 4-word chunks and normalization is
    aggressive (first letter of each word) — standing in for the
    lowercase/strip-punct/digit-fold pass a real corpus gets; the
    pipeline shape is exactly CCNet's.

    Scale: ONE scan + one narrow explode (no payload duplication —
    chunks are derived in place), then
    operators/skew.py:first_occurrence_flag_agg: the per-key minimum is
    an algebraic aggregate (map-side combined, so a viral boilerplate
    chunk collapses to one partial per task before its shuffle) joined
    back on the key with AQE's skew-join split bounding the hot-key
    partition — no single task ever holds a hot key's full row set, no
    heavy-hitter detection pass, no second scan, no driver collect."""
    # spread(): the filtered slice can arrive in fewer file splits than
    # cores (one, at fixture scale), which would serialize the explode
    # on one task; at corpus scale the scan already has >= cores splits
    # and this is a no-op.  (The former d.rdd.getNumPartitions() probe
    # forced a plan->RDD conversion per run; spread answers the same
    # question from driver-side scan metadata.)
    d = spread(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 2000)
    )
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(4.0)).cast("int")
    c = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda k: F.struct(
                    F.array_join(F.slice(words, k * 4 + 1, 4), " ").alias(
                        "chunk"
                    ),
                    F.array_join(
                        F.transform(
                            F.slice(words, k * 4 + 1, 4),
                            lambda x: F.substring(x, 1, 1),
                        ),
                        "",
                    ).alias("key"),
                ),
            )
        ).alias("pos", "ck"),
    ).select("doc_id", "pos", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))

    from ..operators.skew import first_occurrence_flag_agg

    r = first_occurrence_flag_agg(c, "key", ["doc_id", "pos"], flag_col="kept")
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("kept"), F.struct("pos", "chunk"))
            )
        ),
        lambda x: x.chunk,
    )
    return (
        r.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
            F.md5(
                F.encode(F.concat_ws("|", kept_sorted), "utf-8")
            ).alias("kept_hash"),
        )
        .orderBy("doc_id")
    )


def _didx_batch_oracle(n: int, lo: int, hi: int, prev_index: str) -> str:
    """One unrolled batch of the incremental-dedup oracle: index-collision
    filter, intra-batch pairwise reach, min-per-component admission."""
    hit = (
        f"""hit{n} AS (
        SELECT DISTINCT b.doc_id FROM bands b JOIN {prev_index} i
          ON b.band = i.band AND b.band_id = i.band_id
        WHERE b.doc_id > {lo} AND b.doc_id <= {hi}),"""
        if prev_index
        else f"hit{n}(doc_id) AS (SELECT CAST(NULL AS BIGINT) WHERE 1=0),"
    )
    return f"""{hit}
    s{n} AS (
        SELECT * FROM bands
        WHERE doc_id > {lo} AND doc_id <= {hi}
          AND doc_id NOT IN (SELECT doc_id FROM hit{n})),
    p{n} AS (
        SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        FROM s{n} a JOIN s{n} b
          ON a.band = b.band AND a.band_id = b.band_id
             AND a.doc_id <> b.doc_id),
    r{n}(u, v) AS (
        SELECT DISTINCT doc_id, doc_id FROM s{n}
        UNION
        SELECT e.u, r.v FROM p{n} e JOIN r{n} r ON e.v = r.u),
    adm{n} AS (SELECT u AS doc_id FROM r{n} GROUP BY u HAVING MIN(v) = u),
    ib{n} AS (SELECT b.* FROM bands b JOIN adm{n} USING (doc_id)
              {f'UNION ALL SELECT * FROM {prev_index}' if prev_index else ''})"""


from .llm_ops import _MINHASH_SIGS as _SIGS  # noqa: E402
from .llm_ops import _SHINGLES_ORACLE as _SH  # noqa: E402

_DIDX_SH = _SH.replace(
    "FROM documents", "FROM documents WHERE doc_id <= 600"
)


@query(
    "dedup_index_incremental",
    oracle=f"""
    WITH RECURSIVE shingles AS ({_DIDX_SH}),
    sigs AS (SELECT doc_id, {_SIGS} FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 0 AS band_id, md5(h0 || h1 || h2 || h3) AS band FROM sigs
        UNION ALL
        SELECT doc_id, 1 AS band_id, md5(h4 || h5 || h6 || h7) AS band FROM sigs),
    {_didx_batch_oracle(1, 0, 200, "")},
    {_didx_batch_oracle(2, 200, 400, "ib1")},
    {_didx_batch_oracle(3, 400, 600, "ib2")},
    adm AS (SELECT doc_id FROM adm1 UNION ALL SELECT doc_id FROM adm2
            UNION ALL SELECT doc_id FROM adm3)
    SELECT d.doc_id,
           CAST(CASE WHEN d.doc_id <= 200 THEN 1
                     WHEN d.doc_id <= 400 THEN 2 ELSE 3 END AS INT) AS batch_id,
           (d.doc_id IN (SELECT doc_id FROM adm)
            OR d.doc_id NOT IN (SELECT doc_id FROM bands)) AS admitted
    FROM documents d WHERE d.doc_id <= 600 ORDER BY d.doc_id
    """,
)
def dedup_index_incremental(spark, sf_dir):
    """Daily-ingest fuzzy dedup against a PERSISTENT LSH band index
    (operators/dedup_index.py): three successive batches flow through
    signature → index-collision semi-join → intra-batch component
    clustering → snapshot-committed index append.  The oracle unrolls
    the same three admissions in SQL (recursive reach per batch), so the
    whole incremental protocol — collision filter, min-per-component
    admission, index growth between batches — is value-checked, not just
    the final corpus.

    Scale: per batch the corpus is touched ONLY through the band index
    (narrow md5 rows, snapshot-versioned parquet); cost is O(batch +
    matched bands), the property that keeps fuzzy dedup sustainable at
    a 100 TB corpus with 0.1%-sized daily loads.  The three batches are
    one physical LOAD split into priority-ordered admissions, so the
    signature fold (the CPU stage) runs ONCE over the whole load and
    each ingest takes its band-table SLICE — signatures are per-row, so
    slicing cannot change admission semantics (ingest(bands=...))."""
    import tempfile

    from ..operators.dedup_index import MinHashDedupIndex
    from .llm_ops import minhash_bands

    idx = MinHashDedupIndex(spark, tempfile.mkdtemp(prefix="dedup_idx_"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 600)
        .select("doc_id", "text")
    )
    all_bands, n_total = minhash_bands(docs, with_count=True)
    # the three priority-ordered admissions are ONE physical load, so
    # their index appends coalesce into ONE snapshot commit
    # (deferred_commits): each ingest probes committed ∪ pending bands —
    # bit-identical admission semantics (the unchanged oracle pins it) —
    # while the commit protocol's fixed FS cost is paid once, not 3×
    with idx.deferred_commits():
        for bno, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600)], 1):
            sl = (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
            idx.ingest(
                docs.where(sl),
                batch_id=bno,
                bands=all_bands.where(sl),
                n_band_rows=max(1, n_total // 3),
            )
    # the admitted corpus, read back the way a downstream consumer
    # would: every indexed doc_id (the flushed index IS the admitted
    # banded set) plus the bandless docs (too short to shingle — no dup
    # evidence, admitted but never indexed).  One tiny parquet read
    # replaces the former 3-way union of per-ingest returned frames
    # (3 distinct exchanges + a 6-leg union — measured ~6 AQE jobs of
    # pure scheduler constant at daily-batch sizes); the per-ingest
    # return contract itself stays pinned by the dedup-index cases in
    # tests/test_operators.py.  band_id = 0 is the exchange-free
    # distinct (one row per (doc, band_id) by construction).
    admitted = idx.indexed_docs().unionByName(
        docs.select("doc_id").join(
            all_bands.where(F.col("band_id") == 0).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    )
    batch_id = (
        F.when(F.col("doc_id") <= 200, 1)
        .when(F.col("doc_id") <= 400, 2)
        .otherwise(3)
        .cast("int")
    )
    return (
        docs.select("doc_id", batch_id.alias("batch_id"))
        .join(admitted.withColumn("__adm", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            "batch_id",
            F.coalesce(F.col("__adm"), F.lit(False)).alias("admitted"),
        )
        .orderBy("doc_id")
    )


@query(
    "snapshot_change_feed",
    oracle="""
    WITH pt0 AS (SELECT doc_id FROM documents
                 WHERE doc_id <= 300 AND doc_id % 3 = 0),
    late AS (SELECT doc_id FROM documents
             WHERE doc_id > 300 AND doc_id <= 350)
    SELECT doc_id, change_type FROM (
        SELECT doc_id, 'delete' AS change_type FROM pt0
        UNION ALL SELECT doc_id, 'insert' FROM pt0
        UNION ALL SELECT doc_id, 'insert' FROM late)
    ORDER BY doc_id, change_type
    """,
)
def snapshot_change_feed(spark, sf_dir):
    """Change data feed over the snapshot table: after seed → partition
    overwrite → late append, ``changes(1, 3)`` must surface exactly the
    NET row changes — the replaced pt=0 rows as delete+insert and the
    late arrivals as inserts, with untouched partitions absent.  The
    manifest diff means only net-changed dirs are scanned (an
    incremental consumer of a 100 TB table reads a day of appends, not
    the table); see ``SnapshotTable.changes``."""
    import tempfile

    from ..runtime.snapshots import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_cdf_"))
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 300)
    seed = docs.select(
        "doc_id",
        F.lit(1).alias("version"),
        (F.col("doc_id") % 3).cast("int").alias("pt"),
    )
    # capture committed versions (commit retries may shift numbering)
    v1 = t.create(seed, partition_by=["pt"])["version"]
    t.overwrite_partitions(
        seed.where(F.col("pt") == 0).withColumn("version", F.lit(2))
    )
    v3 = t.append(
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") > 300) & (F.col("doc_id") <= 350))
        .select(
            "doc_id",
            F.lit(1).alias("version"),
            (F.col("doc_id") % 3).cast("int").alias("pt"),
        )
    )["version"]
    return (
        t.changes(v1, v3)
        .select("doc_id", F.col("_change_type").alias("change_type"))
        .orderBy("doc_id", "change_type")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


SEMDEDUP_K = 8
SEMDEDUP_ITERS = 2
SEMDEDUP_TAU = 0.30

_SD_ASSIGN = """
    SELECT vec_id, v, cid - 1 AS cluster FROM (
        SELECT s.vec_id, s.v, c.cid + 1 AS cid,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY list_distance(s.v, c.cv), c.cid) AS rn
        FROM {src} s CROSS JOIN {cents} c)
    WHERE rn = 1
"""

_SD_UPDATE = """
    SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
    FROM {prev} p LEFT JOIN (
        SELECT cluster + 1 AS cid, list(c ORDER BY dim) AS cv FROM (
            SELECT cluster, i AS dim,
                   CAST(SUM(CAST(v[i] AS DECIMAL(30,10))) AS DOUBLE)
                       / COUNT(*) AS c
            FROM {assign}, UNNEST(range(1, len(v) + 1)) AS t(i)
            GROUP BY cluster, i)
        GROUP BY cluster) n ON n.cid = p.cid + 1
"""


@query(
    "sim_semantic_dedup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {SEMDEDUP_K}),
    a1 AS ({_SD_ASSIGN.format(src="e", cents="c0")}),
    u1 AS ({_SD_UPDATE.format(prev="c0", assign="a1")}),
    a2 AS ({_SD_ASSIGN.format(src="e", cents="u1")}),
    u2 AS ({_SD_UPDATE.format(prev="u1", assign="a2")}),
    af AS ({_SD_ASSIGN.format(src="e", cents="u2")}),
    dropped AS (
        SELECT DISTINCT x.vec_id
        FROM af x JOIN af y
          ON x.cluster = y.cluster AND x.vec_id > y.vec_id
        WHERE list_cosine_similarity(x.v, y.v) > {SEMDEDUP_TAU})
    SELECT af.vec_id, CAST(af.cluster AS INT) AS cluster,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM af LEFT JOIN dropped d ON af.vec_id = d.vec_id
    ORDER BY af.vec_id
    """,
)
def sim_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    drop any vector with a more-senior (lower id) cluster-mate above a
    cosine threshold — the semantic near-duplicate pruning pass a
    training-data pipeline runs AFTER lexical dedup (MinHash catches
    copies; this catches paraphrases).

    Deterministic distributed k-means so DuckDB replays it exactly:
    fixed seeds (vectors 0..K-1), {SEMDEDUP_ITERS} Lloyd rounds, decimal
    per-dim means (summation-order-proof, the sim_ivf_topk recipe),
    argmin by sequential squared-L2 fold with index tie-break, empty
    clusters keep their previous centroid.

    Scale: each assignment is a NARROW projection against the K x dim
    centroid table embedded as a literal (k-means' standard broadcast —
    no join, no shuffle); each update is one map-side-combined
    (cluster, dim) aggregate whose K x dim result is the only thing the
    driver ever holds.  The pairwise stage is an equi-join on cluster id
    (never all-pairs); at 100 TB cluster sizes are bounded by K sizing
    and oversized clusters sub-shard exactly like the LSH buckets in
    dedup_minhash_lsh."""
    from ..operators.kmeans import semantic_dedup

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        # lazy: the k-means seeds TakeOrderedAndProject (the first
        # consumer) scans every partition, so the eager form's dedicated
        # materialization job was pure scheduler constant
        .transform(cut_lineage, eager=False)
    )
    # K pinned at 8 for the fixed-size oracle fixture; at corpus scale
    # size K ~ n/500 so cluster sizes (and the pairwise stage) stay
    # constant — see operators/kmeans.py:semantic_dedup
    return semantic_dedup(
        emb, SEMDEDUP_K, SEMDEDUP_ITERS, SEMDEDUP_TAU
    ).orderBy("vec_id")


@query(
    "text_warc_roundtrip",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(doc_id // 20 AS INT) AS warc_file,
           CAST(CASE WHEN (doc_id // 20) % 2 = 1 THEN 1 ELSE 0 END AS INT)
               AS gz,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_len,
           md5(text) AS content_md5
    FROM documents WHERE doc_id <= 400 ORDER BY doc_id
    """,
)
def text_warc_roundtrip(spark, sf_dir):
    """WARC container end-to-end (operators/warc.py): documents are
    packed 20-per-file into WARC payloads — odd file ordinals in the
    CommonCrawl one-gzip-member-per-record layout, even ones plain —
    then parsed back through the full header/Content-Length/gzip-member
    machinery; the oracle recomputes each record's byte length and md5
    from the raw text, so a slicing, folding, or member-boundary bug on
    either side breaks the match.

    Scale shape: the group-pack runs per WARC file inside
    ``applyInPandas`` (file payloads built and consumed inside one task,
    never shuffled as blobs — only doc_id routing shuffles), exactly how
    a real .warc.gz corpus scan feeds ``binaryFile`` payloads to
    ``parse_warc`` via mapInPandas."""
    import pandas as pd

    from ..operators.warc import parse_warc, write_warc

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 400)
        .select(
            "doc_id", "text",
            (F.col("doc_id") / 20).cast("int").alias("warc_file"),
        )
    )

    def _pack_unpack(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        fid = int(pdf["warc_file"].iloc[0])
        gz = fid % 2 == 1
        ordered = pdf.sort_values("doc_id")
        payload = write_warc(
            [
                (
                    {
                        "WARC-Type": "conversion",
                        "WARC-Record-ID": f"<urn:doc:{int(d)}>",
                    },
                    t.encode("utf-8"),
                )
                for d, t in zip(ordered["doc_id"], ordered["text"])
            ],
            gzip_members=gz,
        )
        rows = []
        for rec in parse_warc(payload):
            rid = rec["headers"]["WARC-Record-ID"]
            rows.append(
                (
                    int(rid[len("<urn:doc:"):-1]),
                    fid,
                    int(gz),
                    len(rec["content"]),
                    hashlib.md5(rec["content"]).hexdigest(),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["doc_id", "warc_file", "gz", "content_len", "content_md5"],
        )

    return (
        docs.groupBy("warc_file")
        .applyInPandas(
            _pack_unpack,
            "doc_id long, warc_file int, gz int, content_len long, "
            "content_md5 string",
        )
        .orderBy("doc_id")
    )


ANNIDX_K = 8
ANNIDX_NPROBE = 3
ANNIDX_TOPK = 10


@query(
    "sim_ann_index_search",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < 500),
    seed AS (SELECT * FROM e WHERE vec_id < 400),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM seed WHERE vec_id < {ANNIDX_K}),
    a1 AS ({_SD_ASSIGN.format(src="seed", cents="c0")}),
    u1 AS ({_SD_UPDATE.format(prev="c0", assign="a1")}),
    a2 AS ({_SD_ASSIGN.format(src="seed", cents="u1")}),
    u2 AS ({_SD_UPDATE.format(prev="u1", assign="a2")}),
    af AS ({_SD_ASSIGN.format(src="e", cents="u2")}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    probe AS (
        SELECT query_id, cid - 1 AS cell, qv FROM (
            SELECT q.query_id, q.qv, c.cid + 1 AS cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                                c.cid) AS pr
            FROM q CROSS JOIN u2 c)
        WHERE pr <= {ANNIDX_NPROBE}),
    cand AS (
        SELECT p.query_id, af.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, af.v) AS cos
        FROM probe p JOIN af ON af.cluster = p.cell
        WHERE af.vec_id <> p.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM cand)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= {ANNIDX_TOPK}
    ORDER BY query_id, rank
    """,
)
def sim_ann_index_search(spark, sf_dir):
    """Persistent IVF ANN index end-to-end (operators/ann_index.py):
    train the deterministic k-means quantizer on the first 400 vectors,
    incrementally ingest the remaining 100 under the FROZEN centroids,
    then answer 5 queries probing {ANNIDX_NPROBE} of {ANNIDX_K} cells.
    The oracle replays the identical k-means, assignment, probe ranking
    and top-k — pinning the whole index lifecycle, not just the math.

    Scale: ingest is a narrow assignment + partitioned append
    (O(batch)); search reads ONLY the probed cells' files via
    manifest-level partition pruning — at 100 TB the scan is
    nprobe/K of one corpus pass and no all-pairs join exists."""
    import tempfile

    from ..operators.ann_index import IVFIndex

    # the bounded train/ingest/query slice is materialized ONCE: the
    # lifecycle otherwise re-lists + re-scans the parquet for every
    # stage (k-means seeds, 2 training iterations, the partitioned
    # create, the ingest assignment, the query probe — measured 21 jobs
    # / 6 scans).  Caching the training sample is the standard k-means
    # shape (Spark MLlib caches its input); at 100 TB the slice is the
    # SAMPLE you train on, never the corpus.  Lazy: the first consumer
    # (the k-means seeds TakeOrderedAndProject) scans every partition,
    # so the eager form's dedicated job was pure scheduler constant.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 500)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .transform(cut_lineage, eager=False)
    )

    def vecs(lo, hi):
        return emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))

    idx = IVFIndex(spark, tempfile.mkdtemp(prefix="annidx_q_"))
    idx.create(vecs(0, 400), k=ANNIDX_K, iters=2)
    idx.ingest(vecs(400, 500), batch_id=0)
    queries = vecs(0, 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return (
        idx.search(queries, topk=ANNIDX_TOPK, nprobe=ANNIDX_NPROBE)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim", 4).alias("cos_sim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


@query(
    "s13_recursive_cte",
    oracle="""
    WITH RECURSIVE bounds AS (
        SELECT CAST(MIN(date_trunc('month', o_orderdate)) AS DATE) AS mn,
               CAST(MAX(date_trunc('month', o_orderdate)) AS DATE) AS mx
        FROM orders),
    months(m, mx) AS (
        SELECT mn, mx FROM bounds
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx FROM months
        WHERE m < mx
    )
    SELECT strftime(m, '%Y-%m') AS ym,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM months LEFT JOIN orders
      ON date_trunc('month', o_orderdate) = m
    GROUP BY m ORDER BY ym
    """,
)
def s13_recursive_cte(spark, sf_dir):
    """S13: WITH RECURSIVE (Spark 4 native, SPARK-24497) — generate the
    complete month ladder from min to max order date RECURSIVELY, then
    left-join order counts onto it, so months with zero orders still
    appear (the gap-filling shape a calendar dimension usually hacks
    around).  DuckDB replays the same recursion.

    Scale: the max bound rides INSIDE the recursion state (a naive
    scalar subquery in the step's WHERE re-scans orders once per
    iteration — 80 scans on this fixture; carrying it as a column makes
    the ladder fact-table-free), so orders is scanned exactly twice:
    once for bounds, once for the join."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
            SELECT CAST(MIN(date_trunc('month', o_orderdate)) AS DATE) AS mn,
                   CAST(MAX(date_trunc('month', o_orderdate)) AS DATE) AS mx
            FROM orders),
        months(m, mx) AS (
            SELECT mn, mx FROM bounds
            UNION ALL
            SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx FROM months
            WHERE m < mx
        )
        SELECT date_format(m, 'yyyy-MM') AS ym,
               CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        FROM months LEFT JOIN orders
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m ORDER BY ym
        """
    )


@query(
    "j9_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
         LATERAL (SELECT c_name, ROUND(c_acctbal, 2) AS c_acctbal
                  FROM customer
                  WHERE c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """,
)
def j9_lateral_topk(spark, sf_dir):
    """J9: LATERAL correlated subquery — per nation, its top-2 customers
    by account balance, expressed as the SQL-standard lateral join
    (DuckDB replays it verbatim).  Catalyst decorrelates this into a
    ranked window over one customer shuffle — same plan class as the
    explicit row_number() formulation; the plan test pins that no
    cartesian/BNLJ shape survives the decorrelation."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
             LATERAL (SELECT c_name, ROUND(c_acctbal, 2) AS c_acctbal
                      FROM customer
                      WHERE c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
        """
    )


@query(
    "f12_higher_order",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> len(t) > 0) AS ws
        FROM documents WHERE doc_id <= 500)
    SELECT doc_id,
           CAST(len(ws) AS INT) AS n_words,
           CAST(len(list_filter(ws, t -> len(t) >= 6)) AS INT) AS n_long,
           CAST(list_reduce(list_prepend(0,
               list_transform(ws, t -> len(t))), (a, b) -> a + b)
               AS BIGINT) AS total_chars,
           CAST(list_has_any(ws, ['the', 'and', 'of']) AS INT) AS has_stop,
           array_to_string(list_transform(list_slice(ws, 1, 3),
                                          t -> upper(t)), '-') AS head3
    FROM w ORDER BY doc_id
    """,
)
def f12_higher_order(spark, sf_dir):
    """F12: SQL higher-order array functions as a first-class surface —
    transform / filter / aggregate (fold) / exists / slice composed in
    one projection, mirrored by DuckDB's list lambdas.  The engine runs
    these as per-row JVM expression trees: narrow map, no explode, no
    shuffle — the foundation every fold-based operator in this repo
    (minhash, simhash, cosine, token stats) builds on."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 500)
    ws = F.expr("filter(split(text, ' '), t -> length(t) > 0)")
    out = d.select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.size(F.expr(
            "filter(filter(split(text, ' '), t -> length(t) > 0), "
            "t -> length(t) >= 6)"
        )).alias("n_long"),
        F.expr(
            "aggregate(transform(filter(split(text, ' '), "
            "t -> length(t) > 0), t -> length(t)), 0L, (a, b) -> a + b)"
        ).alias("total_chars"),
        F.expr(
            "exists(filter(split(text, ' '), t -> length(t) > 0), "
            "t -> t in ('the', 'and', 'of'))"
        ).cast("int").alias("has_stop"),
        F.expr(
            "array_join(transform(slice(filter(split(text, ' '), "
            "t -> length(t) > 0), 1, 3), t -> upper(t)), '-')"
        ).alias("head3"),
    )
    return out.orderBy("doc_id")


KMV_K = 256


@query(
    "a10_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT
            ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
                / 1152921504606846976.0 AS u
        FROM lineitem),
    k AS (SELECT u FROM h ORDER BY u LIMIT {KMV_K}),
    est AS (SELECT MAX(u) AS hk, COUNT(*) AS got FROM k),
    exact AS (SELECT COUNT(DISTINCT l_partkey) AS n FROM lineitem),
    e2 AS (SELECT CASE WHEN got < {KMV_K} THEN CAST(got AS DOUBLE)
                       ELSE ROUND(({KMV_K} - 1) / hk) END AS est, n
           FROM est, exact)
    SELECT CAST({KMV_K} AS INT) AS k,
           CAST(est AS BIGINT) AS kmv_estimate,
           CAST(n AS BIGINT) AS exact_distinct,
           CAST(ROUND(ABS(est - n) / n * 100, 2) AS DOUBLE) AS rel_err_pct
    FROM e2
    """,
)
def a10_kmv_distinct(spark, sf_dir):
    """A10: KMV (k-minimum-values) distinct-count sketch — the
    DETERMINISTIC approximate-distinct.  Unlike HLL (a4/a9: engine-
    specific register layouts, rows-only by necessity), KMV is pure
    order statistics over a shared hash: the k smallest md5-derived
    uniforms of the distinct values give E[distinct] = (k-1)/h_(k),
    bit-identical in any engine — so the sketch itself is oracle-checked,
    not just bounded.

    Scale: the k-minimum set is MERGEABLE (union then re-take k), which
    is the whole point of sketching — here expressed as hash-distinct
    (map-side combined) + TakeOrdered(k), never a global sort; the
    estimate touches k values on the driver side of the plan only."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    u = (
        F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 15), 16, 10)
        .cast("double") / F.lit(float(1 << 60))
    ).alias("u")
    kmin = li.distinct().select(u).orderBy("u").limit(KMV_K)
    est = kmin.agg(F.max("u").alias("hk"), F.count(F.lit(1)).alias("got"))
    exact = li.agg(F.countDistinct("l_partkey").alias("n"))
    # sketch convention: fewer than k distincts seen -> the k-set IS the
    # exact answer (estimator only kicks in once the set saturates)
    e = F.when(
        F.col("got") < KMV_K, F.col("got").cast("double")
    ).otherwise(F.round(F.lit(KMV_K - 1) / F.col("hk")))
    return (
        est.crossJoin(exact)
        .select(
            F.lit(KMV_K).cast("int").alias("k"),
            e.cast("bigint").alias("kmv_estimate"),
            F.col("n").cast("bigint").alias("exact_distinct"),
            F.round(F.abs(e - F.col("n")) / F.col("n") * 100, 2)
            .alias("rel_err_pct"),
        )
    )


@query("text_bpe_token_count", oracle=BPE_TOKEN_COUNT_ORACLE)
# Oracle (r10): merge application is iterative rewriting recursive SQL
# cannot express — the oracle is independently-computed VALUES literals
# from the clean-room trainer+encoder in tools/gen_independent_oracles.py
# (train split, merge table, per-word encode and the chars_per_token
# rounding all recomputed without touching operators/bpe.py).
def text_bpe_token_count(spark, sf_dir):
    """Token counting under a TRAINED tokenizer — the currency every
    training-data budget is denominated in: learn 12 BPE merges on a
    train split (doc_id <= 300), apply them to a held-out split and
    report per-doc token counts + chars-per-token compression.  The
    encoder is additionally bit-exact-crosschecked against a pure-Python
    reference in tests/test_bpe.py (same discipline as text_bpe_merges).

    Scale: training touches the corpus once (vocabulary working set);
    encoding is a per-row JVM fold chain over the broadcast-as-literal
    merge table — a narrow map, no Python, no shuffle; the word-level
    LRU a production encoder adds changes constants, not shape."""
    from ..operators.bpe import bpe_encode_expr, bpe_train

    train = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select("text")
    )
    merges = bpe_train(train, n_merges=12)
    held = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") > 300) & (F.col("doc_id") <= 400))
        .select("doc_id", "text")
    )
    words = "filter(split(lower(text), '[^a-z]+'), w -> length(w) > 0)"
    # per word: chars -> symbol array -> merge folds -> token count
    encoded_counts = (
        f"aggregate(transform({words}, "
        f"w -> size({bpe_encode_expr('split(w, ``)', merges)})), "
        f"0L, (a, b) -> a + b)"
    ).replace("``", "''")
    n_chars = f"aggregate(transform({words}, w -> length(w)), 0L, (a, b) -> a + b)"
    return (
        held.select(
            "doc_id",
            F.expr(n_chars).alias("n_chars"),
            F.expr(encoded_counts).alias("n_tokens"),
        )
        .withColumn(
            "chars_per_token",
            F.round(F.col("n_chars") / F.greatest(F.col("n_tokens"), F.lit(1)), 3),
        )
        .orderBy("doc_id")
    )


PR_DAMP = 0.85
PR_ITERS = 3
PR_TOPK = 25

_PR_ITER_SQL = """
    SELECT n.node,
           {base} + {damp} * CAST(COALESCE(c.s, 0) AS DOUBLE) AS r
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               SUM(CAST(p.r / e.deg_src AS DECIMAL(38, 18))) AS s
        FROM edges e JOIN {prev} p ON p.node = e.src
        GROUP BY e.dst) c ON c.node = n.node
"""


@query(
    "graph_pagerank",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        WHERE l_partkey <= 1000),
    edges0 AS (
        SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM pairs
        UNION ALL
        SELECT 's' || l_suppkey, 'p' || l_partkey FROM pairs),
    deg AS (SELECT src, COUNT(*) AS deg_src FROM edges0 GROUP BY src),
    edges AS (SELECT e.src, e.dst, d.deg_src
              FROM edges0 e JOIN deg d ON d.src = e.src),
    nodes AS (SELECT DISTINCT src AS node FROM edges0),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
    r1 AS ({_PR_ITER_SQL.format(prev="r0", damp=PR_DAMP,
                                base=f"(1 - {PR_DAMP}) / (SELECT n FROM nn)")}),
    r2 AS ({_PR_ITER_SQL.format(prev="r1", damp=PR_DAMP,
                                base=f"(1 - {PR_DAMP}) / (SELECT n FROM nn)")}),
    r3 AS ({_PR_ITER_SQL.format(prev="r2", damp=PR_DAMP,
                                base=f"(1 - {PR_DAMP}) / (SELECT n FROM nn)")}),
    ranked AS (
        SELECT node, r, ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rk
        FROM r3)
    SELECT node, CAST(ROUND(r * 1e6, 4) AS DOUBLE) AS score_ppm,
           CAST(rk AS INT) AS rank
    FROM ranked WHERE rk <= {PR_TOPK} ORDER BY rank
    """,
)
def graph_pagerank(spark, sf_dir):
    """Deterministic PageRank over the part<->supplier bipartite graph
    (distinct lineitem pairs, both directions so no dangling nodes):
    {PR_ITERS} power iterations at damping {PR_DAMP}, per-destination
    contributions accumulated in DECIMAL(38,18) so summation order
    cannot perturb a single bit — the DuckDB oracle replays the exact
    iterations and the top-{PR_TOPK} ranking matches to the last ulp.

    Scale: each iteration is one equi-join of the rank vector against
    the edge list (shuffle on src) plus one map-side-combined
    per-destination aggregate — the standard Pregel/GraphX plan shape
    without the framework; the rank frame checkpoints per round
    (operators/iterate.py: RELIABLE checkpoint when the session has a
    checkpoint dir — the cluster-safe mode — else executor-local) so
    plans stay flat.  Complements the two connected-components
    operators as the graph-analytics family."""
    from pyspark.sql import Window

    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") <= 1000)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    fwd = pairs.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    edges0 = fwd.unionAll(fwd.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
    # degree as a window over the SAME src key the iteration joins on:
    # one exchange where the former groupBy+join shape paid two (guide
    # §2.4 — two operations keyed the same way share one exchange), and
    # identical counts.  Lazy checkpoint: the nodes count below is the
    # materializing full-scan action, so edges costs no dedicated job.
    edges = edges0.withColumn(
        "deg_src", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).transform(cut_lineage, eager=False)
    # nodes derive from the CHECKPOINTED edges (cached blocks), not from
    # a second lineitem scan+distinct of the edges0 lineage; consumed
    # only for n and the r0 seed
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    base = (1.0 - PR_DAMP) / n

    r = nodes.withColumn("r", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        # the graph is symmetric by construction (both directions
        # unioned), so every node has an incoming edge and the
        # per-destination aggregate already covers EVERY node — the old
        # nodes LEFT JOIN contrib re-attach (one more exchange per
        # iteration) was a no-op and the coalesce(s, 0) branch dead.
        # Decimal accumulation is exact, so regrouping cannot perturb
        # it; the oracle's nodes LEFT JOIN replays bit-identically.
        r = (
            edges.join(r.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    (F.col("r") / F.col("deg_src")).cast("decimal(38,18)")
                ).alias("s")
            )
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(PR_DAMP) * F.col("s").cast("double")
                ).alias("r"),
            )
            .transform(cut_lineage, eager=False)
        )

    from pyspark.sql import Window

    # TakeOrderedAndProject bounds the global sort to K rows; the window
    # then ranks only the 25-row survivor set (never a full global sort)
    topk = r.orderBy(F.col("r").desc(), "node").limit(PR_TOPK)
    w = Window.orderBy(F.col("r").desc(), "node")
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "node",
            F.round(F.col("r") * 1e6, 4).alias("score_ppm"),
            "rank",
        )
        .orderBy("rank")
    )


@query(
    "snapshot_incremental_rollup",
    oracle="""
    WITH seed AS (
        SELECT o_custkey AS g, o_totalprice AS x FROM orders
        WHERE o_orderkey <= 2000 AND o_custkey <= 50),
    appended AS (
        SELECT o_custkey AS g, o_totalprice AS x FROM orders
        WHERE o_orderkey > 2000 AND o_orderkey <= 3000 AND o_custkey <= 50),
    final AS (
        SELECT * FROM (SELECT * FROM seed UNION ALL SELECT * FROM appended)
        WHERE NOT (x < 50000))
    SELECT CAST(g AS BIGINT) AS g,
           CAST(ROUND(SUM(x), 2) AS DOUBLE) AS sum_x,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM final GROUP BY g HAVING COUNT(*) > 0 ORDER BY g
    """,
)
def snapshot_incremental_rollup(spark, sf_dir):
    """End-to-end incremental view maintenance
    (operators/rollup.py:maintain_rollup): seed a source snapshot from
    orders, bootstrap the rollup, then APPEND a second slice and DELETE
    cheap rows — each time catching the rollup up via the source's
    change feed ONLY (signed sums; never a source rescan) — and read the
    final rollup.  The oracle recomputes the same groups from the final
    logical state, so a missed delta, double-applied change, or
    delete-sign bug breaks the match.

    Scale: each catch-up reads the net-changed dirs (O(delta)), merges
    into only the rollup dirs holding touched keys, and absorbs source
    compactions for free (identical rewritten rows cancel in signed
    sums)."""
    import tempfile

    from ..operators.rollup import maintain_rollup
    from ..runtime.snapshots import SnapshotTable

    src_root = tempfile.mkdtemp(prefix="ivm_src_")
    ru_root = tempfile.mkdtemp(prefix="ivm_ru_")
    orders = load_table(spark, sf_dir, "orders")
    src = SnapshotTable(spark, src_root)
    src.create(
        orders.where((F.col("o_orderkey") <= 2000) & (F.col("o_custkey") <= 50))
        .select(F.col("o_custkey").alias("g"), F.col("o_totalprice").alias("x")),
        stats_cols=["x"],
    )
    maintain_rollup(spark, src_root, ru_root, ["g"], ["x"])
    src.append(
        orders.where(
            (F.col("o_orderkey") > 2000) & (F.col("o_orderkey") <= 3000)
            & (F.col("o_custkey") <= 50)
        ).select(F.col("o_custkey").alias("g"), F.col("o_totalprice").alias("x"))
    )
    maintain_rollup(spark, src_root, ru_root, ["g"], ["x"])
    src.delete_where([("x", "<", 50000)])
    maintain_rollup(spark, src_root, ru_root, ["g"], ["x"])
    return (
        SnapshotTable(spark, ru_root)
        .read()
        .where(F.col("n") > 0)
        .select(
            F.col("g").cast("bigint").alias("g"),
            F.round("sum_x", 2).alias("sum_x"),
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("g")
    )


@query(
    "events_resample_ffill",
    oracle="""
    WITH scoped AS (
        SELECT user_id, ts, value FROM events WHERE user_id <= 20),
    bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM scoped GROUP BY user_id),
    grid AS (
        SELECT user_id, CAST(h AS TIMESTAMP) AS bucket
        FROM bounds, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS t(h)),
    agg AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               ROUND(SUM(value), 2) AS v, COUNT(*) AS n
        FROM scoped GROUP BY user_id, date_trunc('hour', ts)),
    joined AS (
        SELECT g.user_id, g.bucket, a.v, COALESCE(a.n, 0) AS n
        FROM grid g LEFT JOIN agg a
          ON a.user_id = g.user_id AND a.bucket = g.bucket),
    filled AS (
        SELECT user_id, bucket, n,
               COALESCE(v, LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v
        FROM joined)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           strftime(bucket, '%Y-%m-%d %H:00') AS bucket,
           CAST(v AS DOUBLE) AS v_filled,
           CAST(n AS BIGINT) AS n_events,
           CAST(CASE WHEN n = 0 THEN 1 ELSE 0 END AS INT) AS gap
    FROM filled ORDER BY user_id, bucket
    """,
)
def events_resample_ffill(spark, sf_dir):
    """Time-series resampling: per user, hourly buckets over the user's
    OWN [first, last] span (sequence-generated grid — empty hours appear
    as rows), hour sums rounded, and gaps FORWARD-FILLED with the last
    observed value (``last(v, ignorenulls)`` over an unbounded-preceding
    frame — the standard ffill idiom).  The regular-grid + ffill shape
    is what every downstream window model consumes; DuckDB replays it
    with LAST_VALUE IGNORE NULLS.

    Scale: grid generation is a per-user ``sequence`` explode (narrow,
    proportional to the OUTPUT), the hour aggregate is map-side
    combined, and the join + ffill window share one user_id
    partitioning — no per-gap self-joins, no driver loops."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") <= 20)
        .select("user_id", "ts", "value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    agg = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.round(F.sum("value"), 2).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = grid.join(agg, ["user_id", "bucket"], "left").withColumn(
        "n", F.coalesce("n", F.lit(0))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn(
            "v_filled",
            F.coalesce("v", F.last("v", ignorenulls=True).over(w)),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.date_format("bucket", "yyyy-MM-dd HH:00").alias("bucket"),
            F.col("v_filled").cast("double"),
            F.col("n").cast("bigint").alias("n_events"),
            F.when(F.col("n") == 0, 1).otherwise(0).cast("int").alias("gap"),
        )
        .orderBy("user_id", "bucket")
    )


EDIT_PREFIX = 160
EDIT_MAX = 40


@query(
    "dedup_edit_distance_verify",
    oracle=f"""
    WITH shingles AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id <= 1500),
             UNNEST(range(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 3),
    sigs AS (SELECT doc_id,
                    MIN(md5('0|' || sh)) AS h0, MIN(md5('1|' || sh)) AS h1,
                    MIN(md5('2|' || sh)) AS h2, MIN(md5('3|' || sh)) AS h3
             FROM shingles GROUP BY doc_id),
    bands AS (SELECT doc_id, md5(h0 || h1 || h2 || h3) AS band FROM sigs),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.doc_id < b.doc_id),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               levenshtein(substr(ta.text, 1, {EDIT_PREFIX}),
                           substr(tb.text, 1, {EDIT_PREFIX})) AS dist
        FROM cand c
        JOIN documents ta ON ta.doc_id = c.doc_a
        JOIN documents tb ON tb.doc_id = c.doc_b)
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           CAST(dist AS INT) AS edit_dist,
           CAST(CASE WHEN dist <= {EDIT_MAX} THEN 1 ELSE 0 END AS INT)
               AS is_dup
    FROM verified ORDER BY doc_a, doc_b
    """,
)
def dedup_edit_distance_verify(spark, sf_dir):
    """LSH candidates VERIFIED by edit distance — the verify stage a
    precision-sensitive dedup adds after banding (jaccard treats
    reorderings as similar; levenshtein does not).  One aggressive band
    (all 4 signatures) proposes candidates; each pair is scored with
    ``levenshtein`` over a bounded prefix (the O(len^2) DP cost is the
    reason real pipelines cap the compare window — the bound is part of
    the operator's contract, not a shortcut).  Both engines implement
    the same integer DP, so distances match exactly.

    Scale: candidates come from the band equi-join (never all-pairs);
    the verify is a narrow map over candidate pairs joined back to the
    two bounded text prefixes."""
    from .llm_ops import minhash_bands

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") <= 1500
    )
    bands = (
        minhash_bands(docs, n_hashes=4, n_bands=1)
        .select("doc_id", "band")
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), "band")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    pa = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, EDIT_PREFIX).alias("ta"),
    )
    pb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, EDIT_PREFIX).alias("tb"),
    )
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            F.col("doc_a").cast("bigint"),
            F.col("doc_b").cast("bigint"),
            F.levenshtein("ta", "tb").cast("int").alias("edit_dist"),
            F.when(F.levenshtein("ta", "tb") <= EDIT_MAX, 1)
            .otherwise(0).cast("int").alias("is_dup"),
        )
        .orderBy("doc_a", "doc_b")
    )
