"""Round-3 training-data-pipeline additions: PII redaction, stable shard
splits, sequence packing, and train/eval contamination detection.

Separate module (imported after llm_ops2) so pre-existing ``queries()``
positions stay stable for the driver gate; thematically these belong with
llm_ops.py / llm_ops2.py.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..datasets import SPREAD_MODERATE, load_table, spread
from ..operators.iterate import cut_lineage
from . import query

# Java regex and DuckDB's RE2 agree on this subset: character classes,
# bounded repetition, ordered alternation (both leftmost-first), \b word
# boundaries, non-capturing groups.  NO lookaround/backrefs — RE2 lacks
# them.  Any new pattern must stay inside this subset.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
#: Phones, ordered most-specific first: +cc international with 2-4 digit
#: groups; (NNN) NNN[-]NNNN; NNN[ -]NNN[ -]?NNNN; bare NNN-NNNN.  Digit
#: runs need separators, so year ranges (2024-2025), IPs, and long ids
#: don't false-positive (adversarial-tested in tests/test_funcs_llm.py).
PHONE_RE = (
    r"\+[0-9]{1,3}[ -]?[0-9]{1,4}(?:[ -][0-9]{2,4}){1,3}\b"
    r"|\([0-9]{3}\) ?[0-9]{3}[ -]?[0-9]{4}\b"
    r"|\b[0-9]{3}[ -][0-9]{3}[ -]?[0-9]{4}\b"
    r"|\b[0-9]{3}-[0-9]{4}\b"
)
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
#: IBAN shape: 2-letter country, 2 check digits, 11-30 alphanumerics.
IBAN_RE = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"

#: (name, pattern, replacement) — redaction applies in this order; SSN
#: precedes PHONE so an SSN is never half-eaten by a phone alternative.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("iban", IBAN_RE, "<IBAN>"),
    ("ssn", SSN_RE, "<SSN>"),
    ("phone", PHONE_RE, "<PHONE>"),
    ("ip", IPV4_RE, "<IP>"),
)


def pii_redact_expr(col):
    """Column expression redacting every PII_PATTERNS class, in order."""
    c = F.col(col) if isinstance(col, str) else col
    for _name, pat, tok in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tok)
    return c


@query(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@mail.example.com or 555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' ip 10.' || doc_id % 256 || '.0.' || (doc_id * 7) % 256 ||
               ' tel +' || (doc_id % 90 + 10) || ' ' || (doc_id % 80 + 10) ||
               ' ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' ' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ||
               ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
               '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
               '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') ||
               ' iban DE' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
               'BANK' || lpad(CAST(doc_id AS VARCHAR), 10, '0')
               AS t
        FROM documents WHERE doc_id <= 300),
    red AS (
        SELECT doc_id, t,
               regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(t,
                   '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{IBAN_RE}', '<IBAN>', 'g'),
                   '{SSN_RE}', '<SSN>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g'),
                   '{IPV4_RE}', '<IP>', 'g') AS r
        FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{SSN_RE}')) AS BIGINT) AS n_ssns,
           CAST(len(regexp_extract_all(t, '{IBAN_RE}')) AS BIGINT) AS n_ibans,
           CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS BIGINT) AS n_ips,
           CAST(len(r) AS BIGINT) AS redacted_len,
           md5(r) AS redacted_hash
    FROM red ORDER BY doc_id
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII detection + redaction — the compliance pass every training-data
    pipeline runs before anything else.  The fixture text is synthetic word
    soup, so each row is deterministically augmented with an email, a US
    and an international phone, an SSN, an IBAN, and an IP derived from
    doc_id (both engines build the identical string); the operator under
    test is the regex extraction/redaction over the full PII_PATTERNS set.

    Scale: a pure per-row narrow map (five regexes, no shuffle, no
    state) — embarrassingly parallel; Java regexes run inside codegen.
    Both engines' regex dialects agree on the pattern subset used
    (classes, bounded repeats, ordered alternation, non-capturing groups,
    word boundaries — no lookaround, RE2 lacks it); DuckDB needs the 'g'
    flag to match Spark's replace-all."""
    aug = (
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" tel +"),
            (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit(" "),
            (F.col("doc_id") % 80 + 10).cast("string"),
            F.lit(" "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" "),
            F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            F.lit(" ssn "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad(((F.col("doc_id") * 3) % 10000).cast("string"), 4, "0"),
            F.lit(" iban DE"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("BANK"),
            F.lpad(F.col("doc_id").cast("string"), 10, "0"),
        )
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 300)
        .select("doc_id", aug.alias("t"))
    )
    red = pii_redact_expr("t")

    def n(pat, alias):
        # column-API regexp_extract_all: the pattern is NOT re-parsed as
        # a SQL string literal, so \b survives (F.expr would eat it)
        return (
            F.size(F.regexp_extract_all("t", F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(alias)
        )

    return (
        docs.select(
            "doc_id",
            n(EMAIL_RE, "n_emails"),
            n(PHONE_RE, "n_phones"),
            n(SSN_RE, "n_ssns"),
            n(IBAN_RE, "n_ibans"),
            n(IPV4_RE, "n_ips"),
            F.length(red).cast("bigint").alias("redacted_len"),
            F.md5(red.cast("binary")).alias("redacted_hash"),
        )
        .orderBy("doc_id")
    )


@query(
    "data_shard_split",
    oracle="""
    WITH s AS (
        SELECT source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2,
               len(string_split(text, ' ')) AS tokens
        FROM documents)
    SELECT source,
           CASE WHEN h2 < 'cc' THEN 'train'
                WHEN h2 < 'e6' THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS n_tokens
    FROM s GROUP BY source, split ORDER BY source, split
    """,
)
def data_shard_split(spark, sf_dir):
    """Stable train/val/test assignment — ~80/10/10 by comparing the first
    two md5 hex chars against 'cc' (204/256) and 'e6' (230/256).  String
    comparison of lowercase hex is engine-portable (no hex→int conversion
    needed) and the split is a pure function of doc_id: reproducible
    across runs, engines, and re-shards, and immune to upstream row order.

    Scale: narrow map + one partial-agg'd groupBy on (source, split) —
    low cardinality, no skew (md5 is uniform)."""
    docs = load_table(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
    )
    return (
        docs.select(
            "source",
            split.alias("split"),
            F.size(F.split("text", " ")).alias("tokens"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


PACK_CTX = 2048  # context-window token budget per packed bin


@query(
    "seq_pack_bins",
    oracle=f"""
    WITH d AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS tokens,
               md5(CAST(doc_id AS VARCHAR)) AS ord
        FROM documents),
    c AS (
        SELECT source, tokens,
               COALESCE(SUM(tokens) OVER (
                   PARTITION BY source ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
        FROM d)
    SELECT source, CAST(cum_before // {PACK_CTX} AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS bin_tokens
    FROM c GROUP BY source, cum_before // {PACK_CTX}
    ORDER BY source, bin_id
    """,
)
def seq_pack_bins(spark, sf_dir):
    """Sequence packing — concat-and-chunk assignment of documents to
    fixed-budget context bins, the layout step before pretraining
    tokenization.  Docs are ordered by md5(doc_id) within source (the same
    deterministic shuffle the sampling ops use); each doc lands in the bin
    where its first token falls (bin = running-prefix-sum div budget), so
    bins are reproducible and bin sizes hover at the budget.

    Scale: ONE window shuffle keyed by source (prefix sums are
    partition-local) + a groupBy that reuses the same key.  A heavy
    source is the same skew case as text_source_cap; the two-phase
    pre-filter does not apply (every row is kept), so the 100 TB path is
    ``operators/skew.sharded_prefix_bins`` — md5-hex-prefix sub-shards
    whose within-shard prefix sums recompose exactly via broadcast
    offsets (pytest asserts bit-identical bin ids to this plan)."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("tokens"),
    ).select(
        "source",
        "tokens",
        F.coalesce(F.sum("tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        c.select(
            "source",
            F.expr(f"cum_before div {PACK_CTX}").alias("bin_id"),
            "tokens",
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


def _a9_quantiles(spark, sf_dir, accuracy: int):
    li = load_table(spark, sf_dir, "lineitem")
    q = F.percentile_approx(
        "l_extendedprice", [0.25, 0.5, 0.75, 0.95], accuracy
    )
    return (
        li.groupBy("l_returnflag")
        .agg(q.alias("qs"), F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            F.col("qs")[0].alias("p25"),
            F.col("qs")[1].alias("p50"),
            F.col("qs")[2].alias("p75"),
            F.col("qs")[3].alias("p95"),
            "n",
        )
        .orderBy("l_returnflag")
    )


def a9_sketch_bench(spark, sf_dir):
    """The PRODUCTION variant: Greenwald-Khanna at accuracy 10000 — the
    quantile path that SCALES (one pass, map-side partial merges,
    bounded sketch memory; exact percentiles need a full sort per
    group).  Benched by bench.py; its values are sketch-approximate, so
    the oracle gate instead checks :func:`a9_approx_quantiles` (below)
    and tests/test_approx_quality.py bounds THIS variant's error
    against the exact values at the sketch's advertised accuracy."""
    return _a9_quantiles(spark, sf_dir, 10000)


@query(
    "a9_approx_quantiles",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.25) AS p25,
           quantile_disc(l_extendedprice, 0.5) AS p50,
           quantile_disc(l_extendedprice, 0.75) AS p75,
           quantile_disc(l_extendedprice, 0.95) AS p95,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def a9_approx_quantiles(spark, sf_dir):
    """percentile_approx driven into its EXACT regime (accuracy =
    Int.MaxValue: the GK sketch keeps every sample, so the query
    returns the true discrete quantile) — which makes the same
    operator ORACLE-CHECKABLE against DuckDB's ``quantile_disc``: both
    engines pick the smallest value whose cumulative fraction reaches
    p (pinned on edge fixtures in tests/test_approx_quality.py).  The
    production accuracy-10000 variant (:func:`a9_sketch_bench`) is
    what bench.py times and what a 100 TB run would use; its
    error-vs-exact bound is tested separately — the right check for a
    sketch, while THIS entry pins the operator's rank semantics
    cross-engine."""
    return _a9_quantiles(spark, sf_dir, 2147483647)


GIF_FRAMES = 3
GIF_H, GIF_W = 4, 5  # frame dims; each frame packs 20 chars of text


@query(
    "mm_gif_frames_stats",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, k,
               rpad(substr(text, k * {GIF_H * GIF_W} + 1, {GIF_H * GIF_W}),
                    {GIF_H * GIF_W}, '?') AS chunk
        FROM documents, UNNEST(range(0, {GIF_FRAMES})) AS t(k)
        WHERE doc_id <= 150)
    SELECT doc_id AS media_id, CAST(k AS INTEGER) AS frame_idx,
           {GIF_FRAMES} AS n_frames, {GIF_W} AS width, {GIF_H} AS height,
           CAST(3 * list_sum(list_transform(range(1, {GIF_H * GIF_W} + 1),
               i -> ascii(substr(chunk, i, 1)))) AS BIGINT) AS pixel_sum
    FROM f ORDER BY media_id, frame_idx
    """,
)
def mm_gif_frames_stats(spark, sf_dir):
    """REAL-codec animated-GIF query: per document, GIF_FRAMES frames are
    packed from consecutive text chunks ('?'-padded), encoded as an
    animated GIF (uncompressed LZW), then the frames come back through
    the REAL container parse (decode_gif_frames' LZW decoder) and each
    decoded frame reports its pixel sum (×3 for the grayscale RGB
    expansion).  The oracle recomputes the expected stats from the same
    deterministic construction — an LZW bug on either side breaks the
    match.  Same narrow mapInPandas shape as the image/WAV paths."""
    import pandas as pd

    from ..operators.codecs import decode_gif_frames, encode_gif

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 150)
        .select("doc_id", "text")
    )
    n_px = GIF_H * GIF_W

    def _roundtrip(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                frames = []
                for k in range(GIF_FRAMES):
                    chunk = text[k * n_px : (k + 1) * n_px].ljust(n_px, "?")
                    frames.append(
                        np.frombuffer(
                            chunk.encode("ascii", "replace"), dtype=np.uint8
                        ).reshape(GIF_H, GIF_W)
                    )
                decoded = decode_gif_frames(encode_gif(frames))
                for k, fr in enumerate(decoded):
                    rows.append(
                        (
                            int(doc_id),
                            k,
                            len(decoded),
                            fr.shape[1],
                            fr.shape[0],
                            int(fr.sum(dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "frame_idx",
                    "n_frames",
                    "width",
                    "height",
                    "pixel_sum",
                ],
            )

    return spread(docs).mapInPandas(
        _roundtrip,
        "media_id long, frame_idx int, n_frames int, width int, height int, "
        "pixel_sum long",
    ).orderBy("media_id", "frame_idx")


INC_MOD = 10  # doc_id % INC_MOD == 7 -> the "incoming batch"; rest = corpus


@query(
    "dedup_incremental",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w
               FROM documents WHERE doc_id <= 400),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(w) - 1),
                     i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS h
          FROM d WHERE len(w) >= 3),
    fp AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(h) - 2),
                      j -> list_min(h[j:j+3]))) AS fps
           FROM g WHERE len(h) >= 4),
    e AS (SELECT doc_id, UNNEST(fps) AS fp FROM fp),
    newb AS (SELECT * FROM d WHERE doc_id % {INC_MOD} = 7),
    corp AS (SELECT * FROM d WHERE doc_id % {INC_MOD} <> 7),
    exact_hit AS (
        SELECT DISTINCT n.doc_id FROM newb n
        JOIN corp c ON md5(n.text) = md5(c.text)),
    fp_hit AS (
        SELECT ne.doc_id FROM e ne
        JOIN e ce ON ne.fp = ce.fp
        JOIN newb n ON n.doc_id = ne.doc_id
        JOIN corp c ON c.doc_id = ce.doc_id
        GROUP BY ne.doc_id, ce.doc_id HAVING COUNT(*) >= 2)
    SELECT n.doc_id,
           n.doc_id IN (SELECT doc_id FROM exact_hit) AS exact_dup,
           n.doc_id IN (SELECT doc_id FROM fp_hit) AS near_dup,
           NOT (n.doc_id IN (SELECT doc_id FROM exact_hit)
                OR n.doc_id IN (SELECT doc_id FROM fp_hit)) AS admit
    FROM newb n ORDER BY n.doc_id
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup — admit an incoming batch against the EXISTING
    corpus, the shape every production ingestion pipeline actually runs
    (full-corpus self-dedup happens once; batch-vs-corpus happens daily).
    A new doc is rejected if it exactly matches a corpus doc (md5) or
    shares >=2 winnowing fingerprints with one (near-dup).

    Scale: the corpus side's md5/fingerprint tables are exactly what the
    full-corpus dedup already materialized — at 100 TB they are PERSISTED
    once and only the (small) batch side is computed per run, joined on
    uniform hash keys; the corpus is never rescanned per batch (here both
    sides derive inline because the fixture has no persisted state)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 400)
        .select("doc_id", "text", F.split("text", " ").alias("w"))
    )
    h_arr = (
        "transform(sequence(0, size(w)-3),"
        " i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2])))"
    )
    fps = (
        spread(docs)
        .where(F.size("w") >= 3)
        .select("doc_id", F.expr(h_arr).alias("h"))
        .where(F.size("h") >= 4)
        .select(
            "doc_id",
            F.expr(
                # DuckDB h[j:j+3] is a 1-based INCLUSIVE slice (4 elements)
                "array_distinct(transform(sequence(1, size(h) - 3),"
                " j -> array_min(slice(h, j, 4))))"
            ).alias("fps"),
        )
        # lazy: both fingerprint consumers (ne/ce join sides) live inside
        # the one final action, so the eager form's dedicated
        # materialization job was pure scheduler constant
        .transform(cut_lineage, eager=False)
    )
    e = fps.select("doc_id", F.explode("fps").alias("fp"))
    is_new = F.col("doc_id") % INC_MOD == 7
    newb = docs.where(is_new).select("doc_id", F.md5("text").alias("th"))
    corp = docs.where(~is_new).select(
        F.col("doc_id").alias("c_id"), F.md5("text").alias("th")
    )
    # no distinct: newb carries one row per doc_id (doc_id is unique) and
    # a left_semi join emits each left row at most once, so the hit set
    # is already duplicate-free — the distinct was one dedup exchange of
    # pure constant
    exact_hit = newb.join(corp, "th", "left_semi").select("doc_id")
    ne = e.where(F.col("doc_id") % INC_MOD == 7)
    ce = e.where(F.col("doc_id") % INC_MOD != 7).select(
        F.col("doc_id").alias("c_id"), "fp"
    )
    fp_hit = (
        ne.join(ce, "fp")
        .groupBy("doc_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("doc_id")
        .distinct()
    )
    verdicts = (
        newb.select("doc_id")
        .join(exact_hit.withColumn("exact_dup", F.lit(True)), "doc_id", "left")
        .join(fp_hit.withColumn("near_dup", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        )
    )
    return verdicts.select(
        "doc_id",
        "exact_dup",
        "near_dup",
        (~(F.col("exact_dup") | F.col("near_dup"))).alias("admit"),
    ).orderBy("doc_id")


WAV_RATE = 8000
WAV_MAX_FRAMES = 200


@query(
    "mm_wav_roundtrip_stats",
    oracle=f"""
    SELECT doc_id AS media_id,
           {WAV_RATE} AS sample_rate,
           CAST(LEAST(len(text), {WAV_MAX_FRAMES}) AS BIGINT) AS n_frames,
           CAST(COALESCE(list_sum(list_transform(
               range(1, CAST(LEAST(len(text), {WAV_MAX_FRAMES}) AS INTEGER) + 1),
               i -> ascii(substr(text, i, 1)))), 0) AS BIGINT) AS sum_samples
    FROM documents WHERE doc_id <= 200 ORDER BY media_id
    """,
)
def mm_wav_roundtrip_stats(spark, sf_dir):
    """REAL-codec multimodal query: deterministic PCM WAV payloads are
    synthesized per document (samples = char codes of the first
    WAV_MAX_FRAMES chars), then parsed back by the RIFF decoder
    (operators/codecs.decode_wav) — so actual container bytes flow through
    the Arrow batch path and the emitted metadata comes from the PARSER,
    not the construction.  The oracle recomputes the expected metadata
    from the same deterministic construction in SQL; a byte-level bug in
    either the encoder or the decoder breaks the match.

    Scale: one mapInPandas stage, payloads never shuffle — the same
    narrow-decode shape as the image path."""
    import pandas as pd

    from ..operators.codecs import decode_wav, encode_wav

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 200)
        .select("doc_id", "text")
    )

    def _roundtrip(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                samples = np.frombuffer(
                    text[:WAV_MAX_FRAMES].encode("ascii", "replace"),
                    dtype=np.uint8,
                ).astype(np.int16)
                wav = decode_wav(encode_wav(samples, WAV_RATE))
                rows.append(
                    (
                        int(doc_id),
                        wav["sample_rate"],
                        wav["n_frames"],
                        int(wav["samples"].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_frames", "sum_samples"],
            )

    return spread(docs).mapInPandas(
        _roundtrip,
        "media_id long, sample_rate int, n_frames long, sum_samples long",
    ).orderBy("media_id")


SPAN_W = 32  # char window for substring dedup
SPAN_STRIDE = 16  # stride between sampled windows (detects dups >= W+STRIDE-1)


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE doc_id <= 300 AND len(text) >= {SPAN_W}),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(
                     range(0, (len(text) - {SPAN_W}) // {SPAN_STRIDE} + 1),
                     i -> md5(substr(text, i * {SPAN_STRIDE} + 1, {SPAN_W}))))
                 AS hs
          FROM d),
    e AS (SELECT doc_id, UNNEST(hs) AS h FROM g)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Exact-substring duplication between documents — the character-level
    dedup the "Deduplicating Training Data Makes Language Models Better"
    line of work targets (suffix arrays there; strided rolling windows
    here).  Hash a SPAN_W-char window every SPAN_STRIDE chars; any
    repeated substring of length >= W+STRIDE-1 is guaranteed to produce a
    colliding sampled window in both copies, so pairs sharing >=2 span
    hashes are exact-duplication candidates (word-level ops miss these
    when tokenization differs).

    Scale: linear in corpus bytes (len/STRIDE hashes per doc, distinct'd
    per row before explode), equi-join on uniform md5 keys — the same
    bucketed-never-all-pairs shape as winnowing."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") <= 300) & (F.length("text") >= SPAN_W))
        .select("doc_id", "text")
    )
    hashes = spread(docs).select(
        "doc_id",
        F.expr(
            f"array_distinct(transform("
            f"sequence(0, (length(text) - {SPAN_W}) div {SPAN_STRIDE}),"
            f" i -> md5(substring(text, i * {SPAN_STRIDE} + 1, {SPAN_W}))))"
        ).alias("hs"),
    )
    # lazy: both self-join sides live inside the one final action (the
    # join's first exchange is the materializing full scan), so the
    # eager form's dedicated job was pure scheduler constant
    e = cut_lineage(hashes, eager=False).select(
        "doc_id", F.explode("hs").alias("h")
    )
    a = e.select(F.col("doc_id").alias("doc_a"), "h")
    b = e.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, ["h"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_spans"))
        .where(F.col("n_spans") >= 2)
        .orderBy("doc_a", "doc_b")
    )


SESSION_GAP_S = 1800  # 30-minute session gap


@query(
    "events_sessionize_batch",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
    m AS (SELECT user_id, t,
                 CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                           > {SESSION_GAP_S}
                      OR LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM e),
    s AS (SELECT user_id, t,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_no
          FROM m)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(MIN(t) AS BIGINT) AS session_start,
           CAST(MAX(t) AS BIGINT) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def events_sessionize_batch(spark, sf_dir):
    """Gap-based sessionization as a BATCH query — the classic
    lag-flag-cumsum window idiom (new-session marker where the gap from
    the previous event exceeds the threshold, prefix-summed into session
    numbers).  Semantically the batch twin of streaming/stateful.py's
    ``sessionize``; having both lets a pipeline backfill history with
    this query and tail the live stream with the stateful operator.

    Scale: one shuffle on user_id feeds both windows AND the final
    groupBy (same key, Catalyst reuses the partitioning); per-user event
    counts are human-scale, so no skew mitigation needed."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp_ltz)) div 1000000").alias("t"),
    )
    w = W.partitionBy("user_id").orderBy("t")
    flagged = e.select(
        "user_id",
        "t",
        F.when(
            F.lag("t").over(w).isNull()
            | ((F.col("t") - F.lag("t").over(w)) > SESSION_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        "t",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("session_no"),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.min("t").alias("session_start"),
            F.max("t").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_no")
    )


EMB_DIM = 64  # testdata embedding dimensionality
OUT_TOPK = 3  # outliers reported per label
_D2_SCALE = 100_000_000  # 1e8 scaled-long accumulation of squared terms


@query(
    "emb_label_outliers",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT vec_id, label, i AS d, v[i] AS x
             FROM e, UNNEST(range(1, {EMB_DIM} + 1)) AS t(i)),
    cent AS (SELECT label, d,
                    CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE)
                        / COUNT(*) AS c
             FROM dims GROUP BY label, d),
    dist AS (SELECT dims.vec_id, dims.label,
                    SUM(CAST(ROUND((x - c) * (x - c) * {_D2_SCALE})
                             AS BIGINT)) AS dist2_scaled
             FROM dims JOIN cent USING (label, d)
             GROUP BY dims.vec_id, dims.label),
    ranked AS (SELECT label, vec_id, dist2_scaled,
                      ROW_NUMBER() OVER (PARTITION BY label
                          ORDER BY dist2_scaled DESC, vec_id) AS rnk
               FROM dist)
    SELECT label, vec_id, CAST(dist2_scaled AS BIGINT) AS dist2_scaled,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= {OUT_TOPK} ORDER BY label, rank
    """,
)
def emb_label_outliers(spark, sf_dir):
    """Per-label embedding outliers — the mislabel/contamination scan over
    a labeled embedding set: distance of each vector to its label centroid,
    top-K farthest per label.

    Cross-engine float discipline: centroids are decimal-exact sums
    divided once in double (identical operands → identical IEEE result),
    and the squared-distance accumulates ROUNDED SCALED LONGS so neither
    engine's summation order can perturb the ranking.  Scale: centroid
    derivation is one (label, dim) partial-aggregated shuffle; centroids
    (labels × dim, tiny) broadcast back and the distance is a per-row JVM
    fold — the corpus is scanned, never shuffled.  The final per-label
    top-K window sees |labels| partitions; with few labels at 100 TB the
    skew-safe variant is the same presample trick as capped_per_key with
    an approximate distance threshold from a sample."""
    e = spread(load_table(spark, sf_dir, "embeddings"), min_bytes=SPREAD_MODERATE).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    dims = e.select(
        "label", F.posexplode("v").alias("d", "x")
    )  # pos is 0-based; oracle's d is 1-based — join key only, never output
    cent = (
        dims.groupBy("label", "d")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy("label")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)")
            .alias("cv")
        )
    )
    d2 = F.expr(
        f"aggregate(zip_with(v, cv, (x, c) -> round((x - c) * (x - c) * {_D2_SCALE})), "
        "0L, (acc, z) -> acc + cast(z as bigint))"
    )
    scored = e.join(F.broadcast(cent), "label").select(
        "label", "vec_id", d2.alias("dist2_scaled")
    )
    w = W.partitionBy("label").orderBy(F.col("dist2_scaled").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= OUT_TOPK)
        .select("label", "vec_id", "dist2_scaled", "rank")
        .orderBy("label", "rank")
    )


GRAM_N = 3  # contamination n-gram length
EVAL_MOD = 11  # doc_id % EVAL_MOD == 0 -> held-out eval set


@query(
    "contamination_ngram",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id <= 400 AND len(string_split(text, ' ')) >= {GRAM_N}),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(w) - {GRAM_N} + 2),
                     i -> md5(array_to_string(w[i:i+{GRAM_N - 1}], ' ')))) AS gs
          FROM d),
    e AS (SELECT doc_id, UNNEST(gs) AS g FROM g),
    ev AS (SELECT doc_id AS eval_id, g FROM e WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (SELECT doc_id AS train_id, g FROM e WHERE doc_id % {EVAL_MOD} <> 0)
    SELECT tr.train_id, ev.eval_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tr JOIN ev USING (g)
    GROUP BY tr.train_id, ev.eval_id
    HAVING COUNT(*) >= 2
    ORDER BY train_id, eval_id
    """,
)
def contamination_ngram(spark, sf_dir):
    """Train/eval contamination detection — flag training documents that
    share >=2 distinct GRAM_N-grams with a held-out eval document (the
    decontamination pass run before every pretraining corpus freeze; the
    n-gram-overlap method is the one GPT-3/PaLM-style reports describe).

    Scale: same shape as winnowing — per-row distinct gram-hash arrays
    (one narrow projection, materialized before explode), then an
    equi-join on uniform md5 keys.  The eval side is tiny by construction
    (1/EVAL_MOD of docs), so at 100 TB it broadcasts and the train
    corpus is never shuffled at all."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 400)
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= GRAM_N)
    )
    grams = spread(docs).select(
        "doc_id",
        F.expr(
            # DuckDB's w[i:i+N-1] is a 1-based inclusive slice (N elems)
            # = slice(w, i, N) at 1-based i
            f"array_distinct(transform(sequence(1, size(w) - {GRAM_N} + 1),"
            f" i -> md5(concat_ws(' ', slice(w, i, {GRAM_N})))))"
        ).alias("gs"),
    )
    # materialize narrow arrays before explode (Generate re-evaluates its
    # generator per element otherwise — same pathology text_winnow_pairs
    # measured at 23s vs 0.2s).  Lazy: the eval-side broadcast build
    # inside the final action is the materializing full scan (its mod
    # filter prunes rows, not partitions), so the eager form's dedicated
    # job was pure scheduler constant
    e = cut_lineage(grams, eager=False).select(
        "doc_id", F.explode("gs").alias("g")
    )
    ev = e.where(F.col("doc_id") % EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    tr = e.where(F.col("doc_id") % EVAL_MOD != 0).select(
        F.col("doc_id").alias("train_id"), "g"
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .orderBy("train_id", "eval_id")
    )
