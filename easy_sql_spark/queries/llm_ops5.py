"""Round-5 continuation: snapshot branch lifecycle (shallow clone +
CHECK constraints + metadata-only counts) and web-corpus URL curation
(canonicalization, registered-domain extraction, domain-level quality
rollup — the CCNet/C4 pre-dedup stage).

Separate module (imported after llm_ops4) so pre-existing ``queries()``
positions stay stable for the driver gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datasets import inline_frame, load_table
from ..operators.iterate import cut_lineage
from . import query

try:  # generated by tools/gen_independent_oracles.py (committed artifact)
    from ._oracle_literals import PCA_PROJECT_ORACLE
except ImportError:  # pragma: no cover - pre-generation bootstrap only
    PCA_PROJECT_ORACLE = None

#: emb_pca_project corpus scope (vec_id bound) — shared with the oracle
#: generator so both sides see the identical vector set.
PCA_SCOPE = 500


def _orders_cents(spark, sf_dir, max_key, *extra_cols):
    """The lakehouse queries' seed: ``orders`` up to ``max_key`` as
    ``(k, cents)`` plus ``extra_cols``, cut once because each query
    writes several files or commits from it and then checks them."""
    return cut_lineage(
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= max_key)
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            *extra_cols,
        ),
        eager=True,
    )


@query(
    "snapshot_branch_lifecycle",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               CAST(o_orderkey % 2 AS INTEGER) AS pt
        FROM orders WHERE o_orderkey <= 1500),
    app AS (SELECT k + 1000000 AS k, price, pt FROM seed WHERE k % 13 = 0),
    br AS (
        SELECT k, CASE WHEN k % 5 = 0 THEN price * 2 ELSE price END AS price, pt
        FROM seed
        UNION ALL SELECT * FROM app)
    SELECT metric, CAST(value AS DOUBLE) AS value FROM (
        SELECT 'branch_pt1_rows' AS metric,
               (SELECT COUNT(*) FROM br WHERE pt = 1) AS value
        UNION ALL SELECT 'branch_rows', (SELECT COUNT(*) FROM br)
        UNION ALL SELECT 'branch_sum_price',
               (SELECT ROUND(SUM(price), 2) FROM br)
        UNION ALL SELECT 'constraint_rejected', 1
        UNION ALL SELECT 'src_rows', (SELECT COUNT(*) FROM seed)
        UNION ALL SELECT 'src_sum_price',
               (SELECT ROUND(SUM(price), 2) FROM seed)
    ) ORDER BY metric
    """,
)
def snapshot_branch_lifecycle(spark, sf_dir):
    """Branch-and-merge lifecycle on the snapshot layer
    (runtime/snapshots.py): seed an orders slice into a pt-partitioned
    table, guard it with a CHECK constraint, shallow-CLONE it into a
    branch (zero data copied — the branch's manifest references the
    source files in place), then on the BRANCH: append new rows, verify
    the cloned constraint rejects a bad batch inside the write job
    itself, and MERGE price updates.  The result pins (a) branch totals
    after append+merge, (b) the source being untouched by every branch
    write, (c) the rejected batch never landing, and (d) the row-count
    metrics coming from metadata-only ``row_count`` — the manifest sum a
    100 TB table answers without listing a single data file.

    Reference analogue: branch/DEV-table workflows the reference's
    Hudi-backed samples reach via table copies; here a clone is one
    manifest write.

    Scale: clone is O(manifest); the violating append fails via the
    write projection's guard (zero extra passes); the merge rewrites
    only dirs holding matched keys; row counts never touch data."""
    import tempfile

    from ..runtime.snapshots import SnapshotConstraintError, SnapshotTable

    src = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_br_") + "/t")
    seed = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 1500)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            (F.col("o_orderkey") % 2).cast("int").alias("pt"),
        )
    )
    src.create(seed, partition_by=["pt"])
    src.add_constraint("price_pos", "price >= 0")

    branch = src.clone_to(src.root + "_branch")
    branch.append(
        seed.where(F.col("k") % 13 == 0).withColumn(
            "k", F.col("k") + F.lit(1000000)
        ).select("k", "price", "pt")
    )
    rejected = 0
    try:
        branch.append(
            inline_frame(
                spark, [(9999999, -5.0, 1)], "k long, price double, pt int"
            ).select(
                "k", F.col("price").cast(seed.schema["price"].dataType), "pt"
            )
        )
    except SnapshotConstraintError:
        rejected = 1
    branch.merge(
        seed.where(F.col("k") % 5 == 0).withColumn(
            "price", F.col("price") * 2
        ),
        keys=["k"],
    )

    def one(metric: str, value) -> "F.DataFrame":
        return spark.range(1).select(
            F.lit(metric).alias("metric"),
            F.lit(value).cast("double").alias("value"),
        )

    sums = [
        t.read().agg(
            F.round(F.sum("price"), 2).cast("double").alias("v")
        ).select(F.lit(name).alias("metric"), F.col("v").alias("value"))
        for name, t in (("branch_sum_price", branch), ("src_sum_price", src))
    ]
    out = (
        one("branch_pt1_rows", branch.row_count(partitions={"pt": ["1"]}))
        .unionByName(one("branch_rows", branch.row_count()))
        .unionByName(sums[0])
        .unionByName(one("constraint_rejected", rejected))
        .unionByName(one("src_rows", src.row_count()))
        .unionByName(sums[1])
    )
    # materialize the result: later actions skip the temp table's files
    return cut_lineage(out.orderBy("metric"), eager=True)


def _messy_urls(spark, sf_dir):
    """Deterministic messy-URL fixture derived from the documents table:
    mixed-case scheme/host, default and non-default ports, tracking
    params, unsorted query strings, fragments, trailing slashes, and a
    TLD mix that exercises multi-label public suffixes.  Both the Spark
    query and the DuckDB oracle parse the SAME raw strings, so the
    canonicalizer itself is what gets checked."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 3000)
    tld = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("Example.COM"))
        .when(F.col("doc_id") % 3 == 1, F.lit("Sample.CO.UK"))
        .otherwise(F.lit("Pages.GitHub.IO"))
    )
    port = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443"))
        .when(F.col("doc_id") % 4 == 1, F.lit(""))
        .when(F.col("doc_id") % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit(":443"))
    )
    return d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper("source"),
            F.lit("-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("."),
            tld,
            port,
            F.lit("/Articles/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_source=feed&ref="),
            F.col("lang"),
            F.lit("&b=2&a=1&utm_campaign=x#frag"),
        ).alias("raw_url"),
    )


# the multi-label public suffixes the demo recognizes (a real deployment
# ships the full publicsuffix.org list the same way: a broadcast lookup)
_PSL_2 = ("co.uk", "github.io", "com.au")

# canonicalization-only CTE chain: expects a relation ``d(doc_id,
# n_chars, raw_url)`` in scope — the oracle prepends the fixture CTE,
# the differential fuzz axis (tests/test_differential_fuzz.py) supplies
# arbitrary generated URLs instead
_URL_CANON_CTES = """
    parsed AS (
        SELECT doc_id, n_chars,
               LOWER(regexp_extract(raw_url, '^([A-Za-z]+)://', 1)) AS scheme,
               LOWER(regexp_extract(raw_url, '://([^/?#]+)', 1)) AS hostport,
               regexp_extract(raw_url, '://[^/?#]+([^?#]*)', 1) AS path,
               regexp_extract(raw_url, '\\?([^#]*)', 1) AS query
        FROM d),
    canon0 AS (
        SELECT doc_id, n_chars, scheme,
               regexp_replace(hostport, ':[0-9]+$', '') AS host,
               regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
               CASE WHEN path = '' THEN '/'
                    WHEN path <> '/' AND path LIKE '%/'
                    THEN SUBSTRING(path, 1, LENGTH(path) - 1)
                    ELSE path END AS path,
               COALESCE(array_to_string(
                   list_sort(list_filter(string_split(query, '&'),
                       x -> x <> '' AND NOT starts_with(x, 'utm_'))),
                   '&'), '') AS canon_query
        FROM parsed),
    canon AS (
        SELECT doc_id, n_chars, host,
               scheme || '://' || host ||
               CASE WHEN port = '' THEN ''
                    WHEN scheme = 'https' AND port = '443' THEN ''
                    WHEN scheme = 'http' AND port = '80' THEN ''
                    ELSE ':' || port END ||
               path ||
               CASE WHEN canon_query = '' THEN '' ELSE '?' || canon_query END
               AS canon_url,
               CASE WHEN regexp_extract(host, '([^.]+[.][^.]+)$', 1)
                         IN ('co.uk', 'github.io', 'com.au')
                    THEN regexp_extract(host, '([^.]+[.][^.]+[.][^.]+)$', 1)
                    ELSE regexp_extract(host, '([^.]+[.][^.]+)$', 1)
               END AS registered_domain
        FROM canon0)
"""

_URL_ORACLE_CTE = (
    """
    WITH d AS (
        SELECT doc_id, n_chars,
               'HTTPS://WWW.' || UPPER(source) || '-' ||
               CAST(doc_id % 7 AS VARCHAR) || '.' ||
               CASE WHEN doc_id % 3 = 0 THEN 'Example.COM'
                    WHEN doc_id % 3 = 1 THEN 'Sample.CO.UK'
                    ELSE 'Pages.GitHub.IO' END ||
               CASE WHEN doc_id % 4 = 0 THEN ':443'
                    WHEN doc_id % 4 = 1 THEN ''
                    WHEN doc_id % 4 = 2 THEN ':8080'
                    ELSE ':443' END ||
               '/Articles/' || CAST(doc_id AS VARCHAR) ||
               '/?utm_source=feed&ref=' || lang ||
               '&b=2&a=1&utm_campaign=x#frag' AS raw_url
        FROM documents WHERE doc_id <= 3000),
"""
    + _URL_CANON_CTES
)


@query(
    "text_url_canonicalize",
    oracle=_URL_ORACLE_CTE
    + """
    SELECT doc_id, canon_url, registered_domain
    FROM canon ORDER BY doc_id
    """,
)
def text_url_canonicalize(spark, sf_dir):
    """URL canonicalization + registered-domain extraction — the first
    stage of every web-corpus curation pipeline (C4/CCNet dedupe by
    canonical URL before ever touching text): lowercase scheme/host,
    strip default ports (443/https, 80/http — :8080 survives), strip
    fragments, drop ``utm_*`` tracking params, sort the surviving query
    params, trim trailing path slashes, and map the host to its
    registrable domain under a public-suffix list (multi-label suffixes
    like ``co.uk``/``github.io`` take three labels, plain TLDs two).

    Scale: a pure narrow map — regexp/array builtins inside whole-stage
    codegen, no shuffle, no UDF; the suffix list is a constant-folded
    expression (the full publicsuffix.org list would ride a broadcast
    join on the suffix key instead)."""
    return (
        _canonicalized(_messy_urls(spark, sf_dir))
        .select("doc_id", "canon_url", "registered_domain")
        .orderBy("doc_id")
    )


def _canonicalized(u):
    """The canonicalizer both URL queries share: adds ``host``,
    ``canon_url`` and ``registered_domain`` columns to a
    (doc_id, n_chars, raw_url) frame.  All JVM builtins — no UDF."""
    scheme = F.lower(F.regexp_extract("raw_url", r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract("raw_url", r"://([^/?#]+)", 1))
    path0 = F.regexp_extract("raw_url", r"://[^/?#]+([^?#]*)", 1)
    qry = F.regexp_extract("raw_url", r"\?([^#]*)", 1)
    host = F.regexp_replace(hostport, r":[0-9]+$", "")
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    path = (
        F.when(path0 == "", F.lit("/"))
        .when(
            (path0 != "/") & path0.endswith("/"),
            F.expr("substring(path0, 1, length(path0) - 1)"),
        )
        .otherwise(path0)
    )
    canon_query = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qry, "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    suffix2 = F.regexp_extract(host, r"([^.]+[.][^.]+)$", 1)
    suffix3 = F.regexp_extract(host, r"([^.]+[.][^.]+[.][^.]+)$", 1)
    reg_dom = F.when(suffix2.isin(*_PSL_2), suffix3).otherwise(suffix2)
    return (
        u.withColumn("scheme", scheme)
        .withColumn("hostport", hostport)
        .withColumn("path0", path0)
        .withColumn("qry", qry)
        .withColumn("host", host)
        .withColumn("port", port)
        .select(
            "doc_id",
            "n_chars",
            "host",
            F.concat(
                F.col("scheme"),
                F.lit("://"),
                F.col("host"),
                F.when(F.col("port") == "", F.lit(""))
                .when(
                    (F.col("scheme") == "https") & (F.col("port") == "443"),
                    F.lit(""),
                )
                .when(
                    (F.col("scheme") == "http") & (F.col("port") == "80"),
                    F.lit(""),
                )
                .otherwise(F.concat(F.lit(":"), F.col("port"))),
                path,
                F.when(canon_query == "", F.lit("")).otherwise(
                    F.concat(F.lit("?"), canon_query)
                ),
            ).alias("canon_url"),
            reg_dom.alias("registered_domain"),
        )
    )


@query(
    "text_domain_rollup",
    oracle=_URL_ORACLE_CTE
    + """
    SELECT registered_domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(AVG(n_chars), 2) AS DOUBLE) AS avg_chars,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           registered_domain IN ('sample.co.uk') AS blocklisted
    FROM canon
    GROUP BY registered_domain ORDER BY registered_domain
    """,
)
def text_domain_rollup(spark, sf_dir):
    """Domain-level curation rollup: per registrable domain — document
    count, mean document length, distinct-host fanout, and a blocklist
    flag (the C4-style domain filter: curation decisions are made at
    the registered-domain grain, not per-URL).

    Scale: narrow map (same canonicalizer as ``text_url_canonicalize``)
    + ONE hash aggregate keyed on the registered domain; the blocklist
    is a broadcast-shape lookup (constant-folded here).  Domain key
    space is tiny relative to the corpus, so partial aggregation
    collapses almost everything map-side."""
    c = _canonicalized(_messy_urls(spark, sf_dir))
    return (
        c.groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).cast("double").alias("avg_chars"),
            F.countDistinct("host").alias("n_hosts"),
        )
        .withColumn(
            "blocklisted", F.col("registered_domain").isin("sample.co.uk")
        )
        .orderBy("registered_domain")
    )


# the classic UTF-8-bytes-decoded-as-cp1252 artifacts (what ftfy calls
# mojibake), ordered longest-first so 3-char punctuation sequences are
# consumed before any 2-char accent pair could alias a prefix
_MOJIBAKE = [
    ("â€™", "’"),  # â€™ -> ’
    ("â€œ", "“"),  # â€œ -> “
    ("â€“", "–"),  # â€“ -> –
    ("â€”", "—"),  # â€” -> —
    ("â€¦", "…"),  # â€¦ -> …
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ã§", "ç"),  # Ã§ -> ç
    ("Â«", "«"),  # Â« -> «
    ("Â»", "»"),  # Â» -> »
]

# deterministic corruption injected into the fixture text so the fixer
# has something real to undo (the corpus itself is clean ASCII)
_INJECT = [
    (" the ", " thÃ© "),
    (" and ", " Ã¤nd "),
    (" is ", " â€™is "),
    (" of ", " â€œof "),
]


def _mojibake_oracle() -> str:
    corrupt = "text"
    for a, b in _INJECT:
        corrupt = f"replace({corrupt}, '{a}', '{b}')"
    fixed = "corrupted"
    for a, b in _MOJIBAKE:
        fixed = f"replace({fixed}, '{a}', '{b}')"
    return f"""
    WITH c AS (
        SELECT doc_id, {corrupt} AS corrupted
        FROM documents WHERE doc_id <= 4000),
    f AS (SELECT doc_id, corrupted, {fixed} AS fixed FROM c)
    SELECT doc_id, md5(fixed) AS fixed_hash,
           CAST(LENGTH(corrupted) - LENGTH(fixed) AS BIGINT) AS chars_removed,
           LENGTH(fixed) <> LENGTH(corrupted) AS was_mojibake
    FROM f ORDER BY doc_id
    """


@query("text_fix_mojibake", oracle=_mojibake_oracle())
def text_fix_mojibake(spark, sf_dir):
    """Mojibake repair — the ftfy pass every web-scale text pipeline
    runs: UTF-8 bytes mis-decoded as cp1252 leave signature sequences
    (``Ã©`` for ``é``, ``â€™`` for ``’``); an ordered longest-first
    replacement table restores them.  The fixture corpus is clean
    ASCII, so a deterministic corruption layer is injected first and
    the FIXER (the ordered replace chain — the real operator) is what
    the oracle checks, including the prefix-aliasing order (3-char
    punctuation artifacts must be consumed before 2-char accent pairs).

    Scale: a pure narrow map — a chain of ``replace`` builtins inside
    whole-stage codegen, no UDF, no shuffle; the full ftfy table (a few
    hundred pairs) compiles to the same shape."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 4000)
    corrupted = F.col("text")
    for a, b in _INJECT:
        corrupted = F.call_function("replace", corrupted, F.lit(a), F.lit(b))
    c = d.select("doc_id", corrupted.alias("corrupted"))
    fixed = F.col("corrupted")
    for a, b in _MOJIBAKE:
        fixed = F.call_function("replace", fixed, F.lit(a), F.lit(b))
    return (
        c.withColumn("fixed", fixed)
        .select(
            "doc_id",
            F.md5(F.encode("fixed", "utf-8")).alias("fixed_hash"),
            (F.length("corrupted") - F.length("fixed"))
            .cast("bigint")
            .alias("chars_removed"),
            (F.length("fixed") != F.length("corrupted")).alias("was_mojibake"),
        )
        .orderBy("doc_id")
    )


def text_deflate_bench(spark, sf_dir):
    """The PRODUCTION compression-ratio variant: real per-document
    DEFLATE (zlib level 6) — the RefinedWeb/MassiveText quality
    signal: natural prose deflates to ~0.4-0.6 of its size,
    boilerplate and template spam much further, random noise not at
    all.  Benched by bench.py under the ``text_compression_ratio``
    name; DuckDB has no compression scalar, so this variant is
    bit-pinned against driver-side zlib in tests/test_funcs_llm.py
    (same RFC-1950 stream, fixed level) while the oracle gate checks
    :func:`text_compression_ratio` below — a dictionary-coding
    estimate of the same signal that IS cross-engine exact.

    Implementation: Arrow-batched ``mapInPandas`` over a two-column
    pruned scan (doc_id, text), zlib level 6 per document — the
    canonical Python-on-executor shape (no per-row UDF, payloads never
    shuffle); the output is the per-doc feature row a curation pipeline
    joins back by doc_id.

    Scale: narrow map, no shuffle; CPU-bound at ~100 MB/s/core for
    DEFLATE — on a 100 TB corpus that is the dominant (and
    irreducible) cost, so the plan's only job is to not add anything
    on top, and it doesn't."""
    import pandas as pd

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 4000)
        .select("doc_id", "text")
    )

    def comp(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            raw_len = raw.str.len()
            comp_len = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": raw_len.astype("int64"),
                    "comp_len": comp_len.astype("int64"),
                    "ratio": (comp_len / raw_len.clip(lower=1)).round(4),
                }
            )

    return d.mapInPandas(
        comp, "doc_id long, raw_len long, comp_len long, ratio double"
    ).orderBy("doc_id")


@query(
    "text_compression_ratio",
    oracle="""
    WITH toks AS (
        SELECT doc_id, octet_length(encode(text)) AS raw_len, t.tok AS tok
        FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
        WHERE doc_id <= 4000 AND t.tok <> ''
    ), dict AS (
        SELECT doc_id, raw_len, tok, COUNT(*) AS cnt
        FROM toks GROUP BY doc_id, raw_len, tok
    )
    SELECT doc_id,
           CAST(raw_len AS BIGINT) AS raw_len,
           CAST(SUM(octet_length(encode(tok))) + COUNT(*) + SUM(cnt)
                AS BIGINT) AS est_len,
           CAST(ROUND((SUM(octet_length(encode(tok))) + COUNT(*) + SUM(cnt)) * 1.0
                / GREATEST(raw_len, 1), 4) AS DOUBLE) AS ratio
    FROM dict GROUP BY doc_id, raw_len ORDER BY doc_id
    """,
)
def text_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal, the ORACLE-CHECKABLE estimate:
    a token-dictionary coding bound — per document, the 'compressed'
    size is the byte cost of a dictionary of its distinct whitespace
    tokens (token bytes + 1 separator each) plus one reference byte
    per token occurrence.  Integer-exact, so it cross-checks against
    DuckDB bit-for-bit, and it tracks the same repetition signal the
    production DEFLATE variant (:func:`text_deflate_bench`, benched
    under this name) measures: boilerplate repeats tokens, so its
    dictionary is tiny relative to its length.

    Plan shape: pruned two-column scan → explode(split) narrow map →
    two hash aggregates with map-side partials ((doc, token) then
    doc) — one shuffle keyed by doc_id+token, no Python anywhere."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 4000)
        .select(
            "doc_id",
            F.octet_length("text").alias("raw_len"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    dict_ = toks.groupBy("doc_id", "raw_len", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    est = (
        F.sum(F.octet_length("tok")) + F.count(F.lit(1)) + F.sum("cnt")
    ).cast("bigint")
    return (
        dict_.groupBy("doc_id", "raw_len")
        .agg(
            est.alias("est_len"),
            F.round(
                est.cast("double") / F.greatest("raw_len", F.lit(1)), 4
            ).alias("ratio"),
        )
        .select(
            "doc_id",
            F.col("raw_len").cast("bigint").alias("raw_len"),
            "est_len",
            "ratio",
        )
        .orderBy("doc_id")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, ts, event_id
        FROM events),
    seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM e),
    pairs AS (
        SELECT event_type AS src, next_type AS dst FROM seq
        WHERE next_type IS NOT NULL),
    counts AS (
        SELECT src, dst, COUNT(*) AS n FROM pairs GROUP BY src, dst)
    SELECT src, dst, CAST(n AS BIGINT) AS n,
           CAST(ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY src), 6)
                AS DOUBLE) AS p
    FROM counts ORDER BY src, dst
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over user event sequences —
    the behavioral-analytics summary (next-event probabilities per
    current event) that powers next-action prediction, anomaly scoring
    and session simulation.

    Plan shape: ONE window over the user_id partitioning (LEAD with a
    deterministic (ts, event_id) order) to form adjacent pairs, then
    one hash aggregate on (src, dst) — the pair key space is
    |event_types|^2, tiny, so the final normalize-per-src window runs
    over a frame that fits anywhere.  No self-joins (the naive
    formulation joins events to itself on rank = rank+1)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("src"),
            F.col("next_type").alias("dst"),
        )
    )
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    norm = Window.partitionBy("src")
    return (
        counts.select(
            "src",
            "dst",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.sum("n").over(norm), 6)
            .cast("double")
            .alias("p"),
        )
        .orderBy("src", "dst")
    )


def _mmr_oracle(k: int = 8, pool: int = 16, lam: float = 0.7) -> str:
    """Unrolled-iteration MMR oracle (same technique as the incremental
    dedup oracle's unrolled batches): each pick is a one-row CTE
    selecting the argmax of lambda*rel - (1-lambda)*max-sim-to-picked,
    all similarities quantized to 4 dp on both engines before any
    comparison so the argmax is decided by identical doubles.

    The linear combination itself runs in DECIMAL: rel/penalty are
    exact 4-dp values, so ``0.7*rel - 0.3*penalty`` frequently lands
    EXACTLY on a 5th-decimal half, where double ROUND ties are decided
    by engine rounding mode + 1-ulp representation luck (found at
    sf0.001: 0.7×0.3345 = 0.23415 → 0.2341 vs 0.2342).  Recovering the
    4-dp decimals, combining exactly, and rounding half-away in decimal
    makes the tie deterministic; the Python side mirrors it with the
    decimal module (ROUND_HALF_UP)."""
    lam_d = f"CAST({lam} AS DECIMAL(6,4))"
    mu_d = f"CAST({round(1 - lam, 10)} AS DECIMAL(6,4))"
    ctes = [
        f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.v,
               ROUND(list_cosine_similarity(e.v, (SELECT qv FROM q)), 4) AS rel
        FROM e WHERE e.vec_id > 0),
    pool AS MATERIALIZED (
        SELECT vec_id, v, rel FROM scored
        ORDER BY rel DESC, vec_id LIMIT {pool}),
    sims AS MATERIALIZED (
        SELECT a.vec_id AS a, b.vec_id AS b,
               ROUND(list_cosine_similarity(a.v, b.v), 4) AS s
        FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
    p1 AS MATERIALIZED (
        SELECT vec_id,
               ROUND({lam_d} * CAST(rel AS DECIMAL(10,4)), 4) AS score
        FROM pool
        ORDER BY score DESC, vec_id LIMIT 1)"""
    ]
    picked_union = "SELECT vec_id FROM p1"
    for i in range(2, k + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
        SELECT p.vec_id,
               ROUND({lam_d} * CAST(p.rel AS DECIMAL(10,4)) - {mu_d} * (
                   SELECT CAST(MAX(s.s) AS DECIMAL(10,4)) FROM sims s
                   WHERE s.a = p.vec_id
                     AND s.b IN ({picked_union})), 4) AS score
        FROM pool p WHERE p.vec_id NOT IN ({picked_union})
        ORDER BY score DESC, vec_id LIMIT 1)"""
        )
        picked_union += f" UNION ALL SELECT vec_id FROM p{i}"
    finals = " UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, score FROM p{i}" for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT CAST(rank AS BIGINT) AS rank, vec_id, "
        f"CAST(score AS DOUBLE) AS score FROM ({finals}) ORDER BY rank"
    )


@query("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein):
    from a relevance-ranked candidate pool, iteratively pick the item
    maximizing ``lambda*rel - (1-lambda)*max_sim_to_already_picked`` —
    the diversity-aware top-k every retrieval/RAG pipeline runs after
    ANN search, and a dedup-aware sampling primitive for training-data
    curation (pick representative, non-redundant documents).

    Plan shape, the way a real re-ranker runs: the POOL is computed
    distributed (one corpus scan, JVM fold dot products, top-16 by
    relevance), the 16x16 pairwise similarity matrix is one tiny
    broadcast self-join, and the k sequential argmax picks — inherently
    iterative, O(k * pool) scalar ops — run driver-side on that bounded
    matrix.  At 100 TB only the pool scan grows; the selection stays
    256 numbers.  All sims quantized to 4 dp before comparison so the
    cross-engine argmax is decided on identical values."""
    k, pool_n, lam = 8, 16, 0.7
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    norm = F.sqrt(
        F.expr("aggregate(transform(v, x -> x * x), 0D, (acc, z) -> acc + z)")
    )
    corpus = emb.withColumn("nrm", norm)
    qv = corpus.where(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    dot_q = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
    )
    pool = (
        corpus.where(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "v",
            F.round(dot_q / (F.col("qnrm") * F.col("nrm")), 4).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(pool_n)
        # two consumers: both sides of the pairwise cross join
        .transform(cut_lineage, eager=True)
    )
    right = pool.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv")
    )
    dot_ab = F.expr(
        "aggregate(zip_with(v, bv, (x, y) -> x * y), 0D, (acc, z) -> acc + z)"
    )
    nrm = "sqrt(aggregate(transform({0}, x -> x * x), 0D, (acc, z) -> acc + z))"
    sims_df = (
        pool.crossJoin(F.broadcast(right))
        .where(F.col("vec_id") != F.col("b_id"))
        .select(
            "vec_id",
            "b_id",
            F.round(
                dot_ab / (F.expr(nrm.format("v")) * F.expr(nrm.format("bv"))),
                4,
            ).alias("s"),
        )
    )
    rels = {
        r["vec_id"]: r["rel"]
        for r in pool.select(
            "vec_id", "rel"
        ).collect()  # bounded-driver: pool is capped at 16 rows
    }
    sims = {
        (r["vec_id"], r["b_id"]): r["s"]
        for r in sims_df.collect()  # bounded-driver: pool self-join <= 16*15 rows
    }
    # the linear combination runs in exact DECIMAL on both engines:
    # rel/penalty are 4-dp quantized, so lam*rel - (1-lam)*penalty often
    # lands EXACTLY on a 5th-decimal half where double round() ties are
    # engine-dependent (found at sf0.001: 0.7*0.3345 = 0.23415 → Python
    # banker's 0.2341 vs DuckDB 0.2342).  Recover the decimals, combine
    # exactly, round half-away — mirroring the oracle's DECIMAL ROUND.
    from decimal import ROUND_HALF_UP, Decimal

    lam_d, mu_d = Decimal("0.7"), Decimal("0.3")
    q4 = Decimal("0.0001")
    picked: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    for rank in range(1, k + 1):
        best = None
        for vid in sorted(rels):
            if vid in chosen:
                continue
            penalty = max((sims[(vid, c)] for c in chosen), default=0.0)
            score = float(
                (
                    lam_d * Decimal(f"{rels[vid]:.4f}")
                    - mu_d * Decimal(f"{penalty:.4f}")
                ).quantize(q4, ROUND_HALF_UP)
            )
            if best is None or score > best[1]:
                best = (vid, score)
        picked.append((rank, best[0], best[1]))
        chosen.append(best[0])
    return inline_frame(
        spark, picked, "rank long, vec_id long, score double"
    ).orderBy("rank")


@query(
    "f13_variant_json",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_id <= 20000),
    j AS (
        SELECT event_id,
               '{"u": ' || user_id || ', "cents": ' || cents ||
               ', "meta": {"t": "' || event_type || '", "parity": ' ||
               (event_id % 2) || '}, "vals": [' || (event_id % 10) ||
               ', ' || (event_id % 7) || ']}' AS payload
        FROM e),
    x AS (
        SELECT CAST(json_extract_string(payload, '$.meta.t') AS VARCHAR) AS t,
               CAST(json_extract(payload, '$.u') AS BIGINT) AS u,
               CAST(json_extract(payload, '$.cents') AS BIGINT) AS cents,
               CAST(json_extract(payload, '$.vals[1]') AS BIGINT) AS v1,
               CAST(json_extract(payload, '$.meta.parity') AS BIGINT) AS parity
        FROM j)
    SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(u) AS BIGINT) AS sum_u,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(v1) AS BIGINT) AS sum_v1
    FROM x WHERE parity = 1
    GROUP BY t ORDER BY t
    """,
)
def f13_variant_json(spark, sf_dir):
    """Semi-structured analytics on Spark 4's VARIANT type: JSON payloads
    parsed ONCE into the binary variant encoding (`parse_json`), then
    path extractions (`try_variant_get` with typed casts — nested
    object, array index) feed a relational filter + aggregate.  VARIANT
    is the engine-native path for the event-properties / API-log columns
    every telemetry pipeline carries: unlike per-query
    ``get_json_object`` string re-parsing (the f4_json surface), the
    parse cost is paid once and extractions are byte-offset reads.

    The payload is constructed deterministically from events columns
    (integers and strings only — float formatting is not cross-engine
    stable) so the DuckDB oracle can extract the same fields with its
    JSON operators.

    Scale: narrow map + one small hash aggregate; no shuffle before the
    agg, no UDF; extraction stays inside whole-stage codegen."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") <= 20000)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    payload = F.concat(
        F.lit('{"u": '),
        F.col("user_id").cast("string"),
        F.lit(', "cents": '),
        F.col("cents").cast("string"),
        F.lit(', "meta": {"t": "'),
        F.col("event_type"),
        F.lit('", "parity": '),
        (F.col("event_id") % 2).cast("string"),
        F.lit('}, "vals": ['),
        (F.col("event_id") % 10).cast("string"),
        F.lit(", "),
        (F.col("event_id") % 7).cast("string"),
        F.lit("]}"),
    )
    v = e.select(F.parse_json(payload).alias("v"))
    x = v.select(
        F.try_variant_get("v", "$.meta.t", "string").alias("t"),
        F.try_variant_get("v", "$.u", "long").alias("u"),
        F.try_variant_get("v", "$.cents", "long").alias("cents"),
        F.try_variant_get("v", "$.vals[1]", "long").alias("v1"),
        F.try_variant_get("v", "$.meta.parity", "long").alias("parity"),
    )
    return (
        x.where(F.col("parity") == 1)
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").alias("sum_u"),
            F.sum("cents").alias("sum_cents"),
            F.sum("v1").alias("sum_v1"),
        )
        .orderBy("t")
    )


@query(
    "delta_interop_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k, o_totalprice AS price,
               CAST(o_orderkey % 3 AS VARCHAR) AS pt
        FROM orders WHERE o_orderkey <= 1200),
    v1 AS (  -- commit 1 replaces partition pt=0 with doubled prices
        SELECT k, CASE WHEN pt = '0' THEN price * 2 ELSE price END AS price, pt
        FROM seed),
    v2 AS (  -- commit 2 deletes k%5=0 from pt=1 via a deletion vector
        SELECT * FROM v1 WHERE NOT (pt = '1' AND k % 5 = 0)),
    cm AS (  -- separate COLUMN-MAPPED table over the k<=300 slice
        SELECT o_orderkey AS k, o_totalprice AS price,
               CAST(o_orderkey % 3 AS VARCHAR) AS pt
        FROM orders WHERE o_orderkey <= 300)
    SELECT version, pt, n, sum_price FROM (
        SELECT 0 AS version, pt, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(price), 2) AS DOUBLE) AS sum_price
        FROM seed GROUP BY pt
        UNION ALL
        SELECT 1, pt, CAST(COUNT(*) AS BIGINT),
               CAST(ROUND(SUM(price), 2) AS DOUBLE)
        FROM v1 GROUP BY pt
        UNION ALL
        SELECT 2, pt, CAST(COUNT(*) AS BIGINT),
               CAST(ROUND(SUM(price), 2) AS DOUBLE)
        FROM v2 GROUP BY pt
        UNION ALL
        SELECT 3, pt, CAST(COUNT(*) AS BIGINT),
               CAST(ROUND(SUM(price), 2) AS DOUBLE)
        FROM cm GROUP BY pt
        UNION ALL
        SELECT 4, pt, CAST(COUNT(*) AS BIGINT),
               CAST(ROUND(SUM(price), 2) AS DOUBLE)
        FROM v2 GROUP BY pt
    ) ORDER BY version, pt
    """,
)
def delta_interop_read(spark, sf_dir):
    """Delta Lake interop end-to-end (sources/delta_log.py): a delta
    table is constructed TO THE PROTOCOL SPEC (parquet data files +
    JSON action log with partition values only in the log, commit 1
    overwriting one partition, commit 2 deleting rows from another
    partition via a DELETION VECTOR — Z85 uuid path, roaring bitmap,
    reader-feature protocol upgrade), then read back WITHOUT
    delta-spark via commit-log replay — all three versions,
    time-travel included.  The oracle recomputes every version's
    per-partition aggregates from the source rows, so what's checked
    is the replay itself: adds, removes, partition-value attachment,
    version selection, and the DV anti-join (delta_dv.py decode).
    Version-4 rows re-read the table after FULL log cleanup through a
    spec-built V2 (uuid-named) checkpoint manifest + sidecars —
    current delta-spark's default checkpoint form — and must equal
    the version-2 rows.

    Scale: the log is driver-side metadata (same split as the snapshot
    layer); each partition group is one pinned-schema parquet scan —
    Delta's own reader shape, minus the JVM."""
    import os
    import tempfile

    from ..sources.delta_log import read_delta

    t = tempfile.mkdtemp(prefix="delta_q_") + "/tbl"
    seed = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 1200)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            (F.col("o_orderkey") % 3).cast("string").alias("pt"),
        )
        # one staged file per partition value reads it
        .transform(cut_lineage, eager=True)
    )

    import json as _json

    os.makedirs(t + "/_delta_log")
    schema_str = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "price", "type": seed.schema["price"].dataType.jsonValue(),
                 "nullable": True, "metadata": {}},
                {"name": "pt", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )

    def stage(df, rel):
        df.coalesce(1).write.parquet(t + "/_stage")
        part = next(
            n for n in os.listdir(t + "/_stage") if n.endswith(".parquet")
        )
        os.replace(t + "/_stage/" + part, t + "/" + rel)
        import shutil

        shutil.rmtree(t + "/_stage")

    def commit(version, actions):
        with open(t + f"/_delta_log/{version:020d}.json", "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    adds0 = []
    for p in ("0", "1", "2"):
        stage(seed.where(F.col("pt") == p).select("k", "price"), f"f-{p}-v0.parquet")
        adds0.append(
            {"add": {"path": f"f-{p}-v0.parquet", "partitionValues": {"pt": p},
                     "size": 1, "modificationTime": 0, "dataChange": True}}
        )
    commit(
        0,
        [
            {"commitInfo": {"operation": "WRITE", "timestamp": 1000}},
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "t", "schemaString": schema_str,
                          "partitionColumns": ["pt"],
                          "format": {"provider": "parquet"}}},
        ]
        + adds0,
    )
    stage(
        seed.where(F.col("pt") == "0").select(
            "k", (F.col("price") * 2).alias("price")
        ),
        "f-0-v1.parquet",
    )
    commit(
        1,
        [
            {"commitInfo": {"operation": "OVERWRITE", "timestamp": 2000}},
            {"remove": {"path": "f-0-v0.parquet", "dataChange": True}},
            {"add": {"path": "f-0-v1.parquet", "partitionValues": {"pt": "0"},
                     "size": 1, "modificationTime": 0, "dataChange": True}},
        ],
    )

    # commit 2: deletion vector on pt=1 (k % 5 == 0) — resolve row
    # positions from the staged file itself (bounded: one small file),
    # encode to the spec's uuid-addressed DV file
    import uuid as _uuid

    from ..sources.delta_dv import write_dv_file, z85_encode

    positions = [
        r.ri
        for r in spark.read.parquet(t + "/f-1-v0.parquet")
        .select(F.col("_metadata.row_index").alias("ri"), "k")
        .where(F.col("k") % 5 == 0)
        .collect()  # bounded-driver: one staged fixture file, <=80 rows (k<=1200 slice)
    ]
    u = _uuid.uuid4()
    blob, spans = write_dv_file([positions])
    with open(t + f"/deletion_vector_{u}.bin", "wb") as fh:
        fh.write(blob)
    commit(
        2,
        [
            {"commitInfo": {"operation": "DELETE", "timestamp": 3000}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}},
            {"remove": {"path": "f-1-v0.parquet", "dataChange": True}},
            {"add": {"path": "f-1-v0.parquet", "partitionValues": {"pt": "1"},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "deletionVector": {
                         "storageType": "u",
                         "pathOrInlineDv": z85_encode(u.bytes),
                         "offset": spans[0][0],
                         "sizeInBytes": spans[0][1],
                         "cardinality": len(positions),
                     }}},
        ],
    )

    outs = []
    for v in (0, 1, 2):
        outs.append(
            read_delta(spark, t, version=v)
            .groupBy("pt")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("price"), 2).cast("double").alias("sum_price"),
            )
            .select(F.lit(v).alias("version"), "pt", "n", "sum_price")
        )

    # version-3 rows: a second, COLUMN-MAPPED table (mode=name,
    # minReaderVersion 2) — parquet columns live under uuid-ish
    # physical names and the log keys partitionValues by them; the
    # read must resolve back to logical (k, price, pt)
    t2 = tempfile.mkdtemp(prefix="delta_qcm_") + "/tbl"
    os.makedirs(t2 + "/_delta_log")
    cm_seed = seed.where(F.col("k") <= 300)

    def cm_field(name, typ, phys, cid):
        return {"name": name, "type": typ, "nullable": True,
                "metadata": {"delta.columnMapping.id": cid,
                             "delta.columnMapping.physicalName": phys}}

    cm_schema_str = _json.dumps({
        "type": "struct",
        "fields": [
            cm_field("k", "long", "col-k9", 1),
            cm_field("price", seed.schema["price"].dataType.jsonValue(),
                     "col-p7", 2),
            cm_field("pt", "string", "col-t3", 3),
        ],
    })
    cm_adds = []
    for p in ("0", "1", "2"):
        df = cm_seed.where(F.col("pt") == p).select(
            F.col("k").alias("col-k9"), F.col("price").alias("col-p7")
        )
        df.coalesce(1).write.parquet(t2 + "/_stage")
        part = next(
            n for n in os.listdir(t2 + "/_stage") if n.endswith(".parquet")
        )
        os.replace(t2 + "/_stage/" + part, t2 + f"/f-{p}.parquet")
        import shutil

        shutil.rmtree(t2 + "/_stage")
        cm_adds.append(
            {"add": {"path": f"f-{p}.parquet",
                     "partitionValues": {"col-t3": p},
                     "size": 1, "modificationTime": 0, "dataChange": True}}
        )
    with open(t2 + "/_delta_log/00000000000000000000.json", "w") as f:
        for a in (
            [
                {"commitInfo": {"operation": "WRITE", "timestamp": 1000}},
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                {"metaData": {
                    "id": "t2", "schemaString": cm_schema_str,
                    "partitionColumns": ["pt"],
                    "format": {"provider": "parquet"},
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3"}}},
            ]
            + cm_adds
        ):
            f.write(_json.dumps(a) + "\n")
    outs.append(
        read_delta(spark, t2)
        .groupBy("pt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).cast("double").alias("sum_price"),
        )
        .select(F.lit(3).alias("version"), "pt", "n", "sum_price")
    )

    # version-4 rows: the SAME table reconstructed through a V2
    # (uuid-named) checkpoint — the form current delta-spark writes by
    # default — after FULL log cleanup: every JSON commit deleted, state
    # lives only in the manifest + _sidecars/ parquet files (DV
    # descriptor riding a sidecar add).  Must equal the version-2 rows.
    # Versions 0-2 were already replayed above (read_delta walks the log
    # at plan-build time), so deleting the JSONs now is safe.
    side = t + "/_delta_log/_sidecars"
    os.makedirs(side)

    def pq_actions(rows, schema, dest):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.parquet(t + "/_stage")
        part = next(
            n for n in os.listdir(t + "/_stage") if n.endswith(".parquet")
        )
        os.replace(t + "/_stage/" + part, dest)
        import shutil

        shutil.rmtree(t + "/_stage")

    sc_schema = (
        "add struct<path string, partitionValues map<string,string>, "
        "deletionVector struct<storageType string, pathOrInlineDv string, "
        "offset int, sizeInBytes int, cardinality long>>, "
        "remove struct<path string>"
    )
    dv_desc = (
        "u", z85_encode(u.bytes), spans[0][0], spans[0][1], len(positions)
    )
    pq_actions(
        [(("f-0-v1.parquet", {"pt": "0"}, None), None),
         (("f-2-v0.parquet", {"pt": "2"}, None), None),
         (None, ("f-0-v0.parquet",))],
        sc_schema,
        side + "/c0a80001-0000-4000-8000-000000000001.parquet",
    )
    pq_actions(
        [(("f-1-v0.parquet", {"pt": "1"}, dv_desc), None)],
        sc_schema,
        side + "/c0a80001-0000-4000-8000-000000000002.parquet",
    )
    mf_schema = (
        "checkpointMetadata struct<version long>, "
        "metaData struct<id string, schemaString string, "
        "partitionColumns array<string>, format struct<provider string>>, "
        "protocol struct<minReaderVersion int, minWriterVersion int, "
        "readerFeatures array<string>, writerFeatures array<string>>, "
        "sidecar struct<path string, sizeInBytes long>"
    )
    pq_actions(
        [
            ((2,), None, None, None),
            (None, ("t", schema_str, ["pt"], ("parquet",)), None, None),
            (None, None,
             (3, 7, ["v2Checkpoint", "deletionVectors"],
              ["v2Checkpoint", "deletionVectors"]), None),
            (None, None, None,
             ("c0a80001-0000-4000-8000-000000000001.parquet", 1)),
            (None, None, None,
             ("c0a80001-0000-4000-8000-000000000002.parquet", 1)),
        ],
        mf_schema,
        t + f"/_delta_log/{2:020d}.checkpoint."
        "9f3c6f9f-1111-4222-8333-444455556666.parquet",
    )
    for v in (0, 1, 2):
        os.remove(t + f"/_delta_log/{v:020d}.json")
    outs.append(
        read_delta(spark, t)
        .groupBy("pt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).cast("double").alias("sum_price"),
        )
        .select(F.lit(4).alias("version"), "pt", "n", "sum_price")
    )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    # materialize the result: later actions skip the temp table's files
    return cut_lineage(out.orderBy("version", "pt"), eager=True)


@query(
    "iceberg_interop_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 900),
    s2 AS (SELECT k, cents FROM seed WHERE k % 2 = 0),
    s3 AS (
        SELECT k, CASE WHEN k % 10 = 0 THEN cents + 1 ELSE cents END AS cents
        FROM s2)
    SELECT snap, CAST(n AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS sum_cents
    FROM (
        SELECT 1 AS snap, COUNT(*) AS n, SUM(cents) AS sum_cents FROM seed
        UNION ALL
        SELECT 2, COUNT(*), SUM(cents) FROM s2
        UNION ALL
        SELECT 3, COUNT(*), SUM(cents) FROM s3
    ) ORDER BY snap
    """,
)
def iceberg_interop_read(spark, sf_dir):
    """Iceberg interop end-to-end (sources/iceberg_meta.py + the
    avro_lite codec): an Iceberg v2 table is constructed to the spec —
    parquet data files, Avro manifests (one deflate-compressed) and
    manifest lists, metadata JSON with a snapshot log — then read back
    via metadata replay at every snapshot.  Snapshot 1 holds an orders
    slice across two files; snapshot 2 overwrites to the even keys
    (one file deleted, one surviving, one added); snapshot 3 is an
    EQUALITY-DELETE upsert — the k%10 keys are deleted by value and
    re-inserted with bumped cents IN THE SAME sequence number, so the
    spec's strictly-less-than ordering (old rows die, same-commit
    re-inserts survive) is what makes the aggregate match.  The oracle
    recomputes all three snapshots' aggregates from the source rows,
    so the check covers manifest-entry status handling, sequence-number
    inheritance, Avro decoding and schema conversion."""
    import json as _json
    import os
    import shutil
    import tempfile

    from ..sources.avro_lite import write_avro_file
    from ..sources.iceberg_meta import read_iceberg

    t = tempfile.mkdtemp(prefix="ice_q_") + "/tbl"
    seed = _orders_cents(spark, sf_dir, 900)

    def stage(df, rel):
        df.coalesce(1).write.parquet(t + "/_s")
        part = next(n for n in os.listdir(t + "/_s") if n.endswith(".parquet"))
        dest = f"{t}/data/{rel}"
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(f"{t}/_s/{part}", dest)
        shutil.rmtree(t + "/_s")
        return dest

    f_odd = stage(seed.where(F.col("k") % 2 == 1), "odd.parquet")
    f_ev1 = stage(
        seed.where((F.col("k") % 2 == 0) & (F.col("k") % 3 == 0)), "ev1.parquet"
    )
    f_ev2 = stage(
        seed.where((F.col("k") % 2 == 0) & (F.col("k") % 3 != 0)), "ev2.parquet"
    )

    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "data_file_r", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}]},
                ]}},
        ],
    }
    mlist_schema = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
        ],
    }

    def entry(status, path, content=0, seq=None, eq_ids=None):
        return {"status": status, "sequence_number": seq, "data_file": {
            "content": content, "file_path": path,
            "file_format": "PARQUET", "record_count": 1,
            "equality_ids": eq_ids}}

    os.makedirs(f"{t}/metadata")

    def manifest(name, entries, codec="null"):
        p = f"{t}/metadata/{name}"
        with open(p, "wb") as fh:
            fh.write(write_avro_file(entry_schema, entries, codec))
        return p

    def mlist(name, paths, contents=None, seqs=None):
        p = f"{t}/metadata/{name}"
        rows = [
            {"manifest_path": mp,
             "content": (contents or [0] * len(paths))[i],
             "sequence_number": (seqs or [None] * len(paths))[i]}
            for i, mp in enumerate(paths)
        ]
        with open(p, "wb") as fh:
            fh.write(write_avro_file(mlist_schema, rows))
        return p

    m1 = manifest("m1.avro", [entry(1, f_odd), entry(1, f_ev1), entry(1, f_ev2)],
                  codec="deflate")
    ml1 = mlist("sl1.avro", [m1], seqs=[1])
    m2 = manifest("m2.avro", [entry(2, f_odd), entry(0, f_ev1, seq=1),
                              entry(0, f_ev2, seq=1)])
    ml2 = mlist("sl2.avro", [m2], seqs=[2])

    # snapshot 3: equality-delete upsert of the k%10 keys — delete by
    # value + re-insert with bumped cents at the SAME sequence number
    # (3): the spec's strictly-below rule kills the seq-1 originals and
    # keeps the seq-3 re-inserts
    upd = (
        seed.where((F.col("k") % 2 == 0) & (F.col("k") % 10 == 0))
        .withColumn("cents", F.col("cents") + 1)
    )
    f_upd = stage(upd, "upd.parquet")
    f_eqd = stage(upd.select("k"), "eqd.parquet")
    m3 = manifest("m3.avro", [entry(0, f_ev1, seq=1), entry(0, f_ev2, seq=1),
                              entry(1, f_upd)])
    m3d = manifest("m3d.avro", [entry(1, f_eqd, content=2, eq_ids=[1])])
    ml3 = mlist("sl3.avro", [m3, m3d], contents=[0, 1], seqs=[3, 3])
    meta = {
        "format-version": 2,
        "table-uuid": "q",
        "location": t,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "cents", "required": False, "type": "long"},
        ]}],
        "current-schema-id": 0,
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1000, "manifest-list": ml1,
             "summary": {"operation": "append"}},
            {"snapshot-id": 2, "timestamp-ms": 2000, "manifest-list": ml2,
             "summary": {"operation": "overwrite"}},
            {"snapshot-id": 3, "timestamp-ms": 3000, "manifest-list": ml3,
             "summary": {"operation": "overwrite"}},
        ],
        "current-snapshot-id": 3,
        "snapshot-log": [
            {"timestamp-ms": 1000, "snapshot-id": 1},
            {"timestamp-ms": 2000, "snapshot-id": 2},
            {"timestamp-ms": 3000, "snapshot-id": 3},
        ],
    }
    with open(f"{t}/metadata/v1.metadata.json", "w") as fh:
        _json.dump(meta, fh)

    outs = [
        read_iceberg(spark, t, snapshot_id=s)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit(s).alias("snap"), "n", "sum_cents")
        for s in (1, 2, 3)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    # materialize the result: later actions skip the temp table's files
    return cut_lineage(out.orderBy("snap"), eager=True)


@query(
    "dedup_url_exact",
    oracle=_URL_ORACLE_CTE
    + """
    , ranked AS (
        SELECT doc_id, canon_url, registered_domain,
               ROW_NUMBER() OVER (
                   PARTITION BY canon_url ORDER BY doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY canon_url) AS n_dups
        FROM canon)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN n_dups > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept_with_dups,
           CAST((SELECT COUNT(*) FROM canon) AS BIGINT) AS n_total,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id)) AS kept_ids_hash
    FROM ranked WHERE rn = 1
    """,
)
def dedup_url_exact(spark, sf_dir):
    """URL-exact dedup — C4's very first dedup stage: one document per
    CANONICAL URL (tracking params, case, ports, fragments already
    folded away by the canonicalizer), keeping the smallest doc_id.
    The messy-URL fixture maps ~7 docs onto each canonical URL (the
    doc_id rides the path, but docs sharing (source, doc_id%7, tld
    bucket, port bucket) collapse after canonicalization only when the
    full path matches — so dup groups come from the port-bucket split:
    :443 and bare hosts canonicalize identically).

    Scale: narrow canonicalizer map + ONE hash aggregate on canon_url
    (min doc_id + group size — first-occurrence-by-min needs no window,
    and partial aggregation makes a viral hot URL a non-event: the map
    side collapses it before the shuffle) + a single-row aggregate."""
    c = _canonicalized(_messy_urls(spark, sf_dir))
    g = c.groupBy("canon_url").agg(
        F.min("doc_id").alias("keeper"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum((F.col("n_dups") > 1).cast("bigint")).alias("n_kept_with_dups"),
        F.sum("n_dups").cast("bigint").alias("n_total"),
        F.md5(
            F.encode(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("keeper")),
                        lambda x: x.cast("string"),
                    ),
                ),
                "utf-8",
            )
        ).alias("kept_ids_hash"),
    ).select("n_kept", "n_kept_with_dups", "n_total", "kept_ids_hash")


@query("emb_pca_project", oracle=PCA_PROJECT_ORACLE)
# Oracle (r10): independently-computed VALUES literals — a single-shot
# numpy PCA in tools/gen_independent_oracles.py (full-matrix moments, no
# Spark) reproduces every projected coordinate bit-for-bit and embeds
# them as per-SF literal SQL.  Eigendecomposition itself is not
# DuckDB-expressible; also bit-pinned in tests/test_funcs_llm.py.
def emb_pca_project(spark, sf_dir):
    """PCA projection of the embedding corpus — the dimensionality
    reduction step before clustering/visualization/cheap-ANN in every
    embedding pipeline.  Scoped to ``vec_id < 500`` (the scoping
    discipline every literal-oracle query follows).

    The distributed part is the only part that touches the corpus: ONE
    Arrow-batched pass accumulates per-partition moment partials
    (count, sum, X^T X — dim 64 makes a partial 4K doubles), the driver
    combines them into the covariance and eigendecomposes (64x64 —
    microseconds), then the projection runs as JVM fold dot products
    against the broadcast (constant-folded) component vectors.  At
    100 TB the two corpus passes are both narrow maps; nothing about
    the eigensolve grows with the data.

    Determinism: the combined mean/covariance are rounded to 9 dp
    BEFORE the eigensolve — partial-sum association error under any
    partitioning is ~1e-13, five orders below the rounding threshold,
    so the eigensolver input (hence the component literals and every
    projected coordinate) is bit-identical no matter how the scan
    splits; components are sign-normalized (largest-|coord| entry
    positive) and coordinates rounded to 6 dp."""
    import numpy as np
    import pandas as pd

    k = 4
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < PCA_SCOPE
    ).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "xtx": [(x.T @ x).reshape(-1).tolist()],
                }
            )

    rows = emb.select("v").mapInPandas(
        partials, "n long, s array<double>, xtx array<double>"
    ).collect()  # bounded-driver: one partial row per input partition
    n = sum(r["n"] for r in rows)
    dim = len(rows[0]["s"])
    s = np.zeros(dim)
    xtx = np.zeros((dim, dim))
    for r in rows:
        s += np.array(r["s"])
        xtx += np.array(r["xtx"]).reshape(dim, dim)
    # 9 dp rounding makes the eigensolver input partitioning-invariant
    # (see docstring); the oracle generator mirrors these exact ops
    mean = (s / n).round(9)
    cov = (xtx / n - np.outer(mean, mean)).round(9)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, dim)
    for i in range(k):
        if comps[i][np.argmax(np.abs(comps[i]))] < 0:
            comps[i] = -comps[i]
    explained = (evals[order] / evals.sum()).round(6)

    centered = F.expr(
        "zip_with(v, __mean, (x, m) -> x - m)"
    )
    proj_cols = [
        F.round(
            F.expr(
                f"aggregate(zip_with(__c, __pc{i}, (x, c) -> x * c), "
                "0D, (acc, z) -> acc + z)"
            ),
            6,
        ).alias(f"pc{i}")
        for i in range(k)
    ]
    out = (
        emb.withColumn("__mean", F.lit(mean.round(12).tolist()).cast("array<double>"))
        .withColumn("__c", centered)
    )
    for i in range(k):
        out = out.withColumn(
            f"__pc{i}", F.lit(comps[i].round(12).tolist()).cast("array<double>")
        )
    out = out.select("vec_id", "label", *proj_cols)
    for i in range(k):
        out = out.withColumn(f"evr{i}", F.lit(float(explained[i])))
    return out.orderBy("vec_id")


@query(
    "snapshot_dv_delete",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k, o_totalprice AS price
        FROM orders WHERE o_orderkey <= 2000),
    v_dv AS (SELECT * FROM seed WHERE NOT (k < 300)),
    v_dv2 AS (SELECT * FROM v_dv WHERE NOT (k < 500)),
    fin AS (SELECT * FROM v_dv2 WHERE NOT (k > 1800))
    -- outer CASTs are load-bearing: without them DuckDB widens the
    -- unioned SUM column to HUGEINT (legs 2-4 are uncast) and the
    -- driver's pandas canonicalizer renders it float64 ("1956150.0")
    -- against Spark's bigint ("1956150") -> hash mismatch (r5/r7 red).
    SELECT stage, CAST(n AS BIGINT) AS n, CAST(sum_k AS BIGINT) AS sum_k FROM (
        SELECT 'a_after_dv' AS stage, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k FROM v_dv
        UNION ALL SELECT 'b_after_dv2', COUNT(*), SUM(k) FROM v_dv2
        UNION ALL SELECT 'c_time_travel', COUNT(*), SUM(k) FROM seed
        UNION ALL SELECT 'd_after_compact_cow', COUNT(*), SUM(k) FROM fin
    ) ORDER BY stage
    """,
)
def snapshot_dv_delete(spark, sf_dir):
    """Deletion-vector DELETE lifecycle under an oracle
    (runtime/snapshots.py:delete_where_dv): seed an orders slice, DV
    two overlapping deletes (the second must not double-count rows the
    first already removed), time-travel to the pre-DV version, compact
    (applies + clears the DVs), then a copy-on-write delete on the
    compacted table — every stage's (count, sum) is recomputed by the
    oracle from the raw rows, and the counts come from the
    metadata-only ``row_count`` wherever DV counts are trusted.

    Scale: each DV write is O(matched rows); reads pay one broadcast
    anti-join; compact is the amortization valve — Delta's DV+OPTIMIZE
    split on the manifest layer."""
    import tempfile

    from ..runtime.snapshots import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="snap_dv_") + "/t")
    seed = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 2000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    # capture the committed version instead of assuming it lands at 1 —
    # a commit retry/rebase inside _commit_loop may shift the numbering
    v_seed = t.create(seed, stats_cols=["k"])["version"]
    t.delete_where_dv([("k", "<", 300)])
    s1 = t.read().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
    ).select(F.lit("a_after_dv").alias("stage"), "n", "sum_k")
    # overlapping DV: rows already deleted must not re-count
    t.delete_where_dv([("k", "<", 500)])
    s2 = t.read().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
    ).select(F.lit("b_after_dv2").alias("stage"), "n", "sum_k")
    s3 = t.read(version=v_seed).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
    ).select(F.lit("c_time_travel").alias("stage"), "n", "sum_k")
    t.compact()
    t.delete_where([("k", ">", 1800)])
    s4 = t.read().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
    ).select(F.lit("d_after_compact_cow").alias("stage"), "n", "sum_k")
    out = s1.unionByName(s2).unionByName(s3).unionByName(s4)
    # materialize the result: later actions skip the temp table's files
    return cut_lineage(out.orderBy("stage"), eager=True)


@query(
    "hudi_mor_interop_read",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 600),
    merged AS (
        SELECT k,
               CASE WHEN k % 5 = 0 THEN cents + 7 ELSE cents END AS cents
        FROM seed WHERE k % 7 <> 0
        UNION ALL
        SELECT 900001 + i, 4200 + i FROM range(3) t(i))
    SELECT snap, CAST(n AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS sum_cents
    FROM (
        SELECT 1 AS snap, COUNT(*) AS n, SUM(cents) AS sum_cents FROM seed
        UNION ALL
        SELECT 2, COUNT(*), SUM(cents) FROM merged
    ) ORDER BY snap
    """,
)
def hudi_mor_interop_read(spark, sf_dir):
    """Hudi MERGE_ON_READ interop end-to-end (sources/hudi_meta.py +
    the hudi_log.py block codec): a MOR table is constructed to the
    open layout — a committed base parquet file with populated hoodie
    meta columns, then one log file carrying an AVRO data block
    (updates + inserts, deltacommit 002) and a DELETE block
    (deltacommit 003) — and read back at both the pre-delta instant
    (pure base) and the latest snapshot (executor-side log replay +
    latest-event-wins merge).  This is the read path for the
    reference's Flink-Hudi upsert samples
    (test/sample_etl.flink.hudi-agg.sql writes MOR by default); the
    oracle replays the same changelog in SQL, so what's checked is the
    framed-block decode, file-slice selection, commit filtering and
    the per-key merge itself."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from ..sources.hudi_log import write_data_block, write_delete_block
    from ..sources.hudi_meta import read_hudi

    t = _tempfile.mkdtemp(prefix="hudi_q_") + "/tbl"
    seed = _orders_cents(spark, sf_dir, 600)

    # --- base file slice at instant 001 (commit), meta cols populated
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

    avro_schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "_hoodie_commit_time", "type": ["null", "string"]},
            {"name": "_hoodie_record_key", "type": ["null", "string"]},
            {"name": "_hoodie_partition_path", "type": ["null", "string"]},
            {"name": "k", "type": ["null", "long"]},
            {"name": "cents", "type": ["null", "long"]},
        ],
    }

    def _rec(instant, k, cents):
        return {
            "_hoodie_commit_time": instant,
            "_hoodie_record_key": str(k),
            "_hoodie_partition_path": "",
            "k": k,
            "cents": cents,
        }

    # updates (k%5==0: cents+7) — bounded collect: <=120 rows at any sf
    # (the k<=600 filter caps the slice regardless of table size)
    updates = [
        _rec("002", r.k, r.cents + 7)
        for r in seed.where(F.col("k") % 5 == 0).collect()  # bounded-driver: <=120 rows (k<=600 cap)
    ]
    inserts = [_rec("002", 900001 + i, 4200 + i) for i in range(3)]
    deletes = [
        (str(r.k), "") for r in seed.where(F.col("k") % 7 == 0).collect()  # bounded-driver: <=86 rows (k<=600 cap)
    ]
    payload = write_data_block(
        avro_schema, updates + inserts, "002"
    ) + write_delete_block(deletes, "003")
    with open(f"{t}/.f1_001.log.1_0-1-0", "wb") as fh:
        fh.write(payload)

    _os.makedirs(f"{t}/.hoodie")
    with open(f"{t}/.hoodie/hoodie.properties", "w") as fh:
        fh.write("hoodie.table.name=q\nhoodie.table.type=MERGE_ON_READ\n")
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
        for snap, as_of in ((1, "001"), (2, None))
    ]
    return (
        outs[0].unionByName(outs[1]).orderBy("snap")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )


@query(
    "hudi_export_roundtrip",
    oracle="""
    WITH seed AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 800),
    v2 AS (
        SELECT k, cents FROM seed
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
def hudi_export_roundtrip(spark, sf_dir):
    """Snapshot -> Hudi COW export roundtrip (sources/hudi_meta.py
    ``export_snapshot_to_hudi``), closing the WRITE side of the
    lakehouse interop triangle (Delta and Iceberg exports already
    oracle-verified via their interop reads): an orders slice becomes
    a snapshot table, exports zero-copy (hardlinked base files +
    .hoodie timeline), a second snapshot commit re-exports
    INCREMENTALLY (only the new file links, at a fresh instant), and
    ``read_hudi`` reads BOTH exported instants back — time travel
    through the exported timeline.  The oracle replays the same two
    states in SQL, so what's checked is the export's timeline/layout
    correctness as seen by an independent timeline-replaying reader.

    Scale: export cost is O(changed files) driver-side metadata +
    hardlinks (no data bytes move); the read is ordinary parquet
    scans.  Same split as the Delta/Iceberg exports."""
    import tempfile

    from ..runtime.snapshots import SnapshotTable
    from ..sources.hudi_meta import export_snapshot_to_hudi, read_hudi

    seed = _orders_cents(spark, sf_dir, 800)
    root = tempfile.mkdtemp(prefix="hudi_exp_") + "/tbl"
    t = SnapshotTable(spark, root)
    t.create(seed)
    rep1 = export_snapshot_to_hudi(t)
    extra = inline_frame(
        spark, [(900001 + i, 5000 + i) for i in range(4)], "k long, cents long"
    )
    t.append(extra)
    rep2 = export_snapshot_to_hudi(t)
    dest = rep1["dest"]
    outs = [
        read_hudi(spark, dest, as_of=rep1["instant"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit(1).alias("snap"), "n", "sum_cents"),
        read_hudi(spark, dest, as_of=rep2["instant"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit(2).alias("snap"), "n", "sum_cents"),
    ]
    return (
        outs[0].unionByName(outs[1]).orderBy("snap")
        # materialize the result: later actions skip the temp table's files
        .transform(cut_lineage, eager=True)
    )
