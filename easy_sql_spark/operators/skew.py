"""Skew-aware join: explicit key salting for hot keys.

AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on by
default in our sessions) splits oversized shuffle partitions at runtime and
is the first line of defense.  Salting is the complement for the cases AQE
cannot fix: a single join KEY so hot it dominates one partition (AQE can
split a partition, but a sort-merge join still needs all rows of one key
together on the probe side build), aggregations feeding a join, and
streaming joins where AQE does not apply.

``salted_join`` replicates the *small* side ``salt`` times (size × salt —
keep salt modest) and scatters the *large* side uniformly with a random or
hash-derived salt column, so one hot key spreads over ``salt`` partitions:

    large ⋈ small on k  →  (large + salt_l) ⋈ (small × salt) on (k, salt)

Inner/left join directly on the salted keys.  Right/full-outer need more
care — naive replication would emit ``salt`` copies of unmatched
small-side rows (and replicas that matched nothing would null-extend
spuriously even when ANOTHER replica matched) — so they decompose into
salted-inner ∪ null-extended anti-join remainders, preserving exact
multiplicity and NULL-key semantics (NULL keys never match, unmatched
rows survive null-extended once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .iterate import cut_lineage

SALT_COL = "__salt__"

#: Selection keys live in the first 15 hex chars (60 bits) of md5 — numeric
#: prefix order is consistent with full-hex string order, so a prefix
#: threshold keeps a superset of any full-order smallest-k selection.
_KEYSPACE = float(2**60)


def _id_md5(id_col: str):
    # NULL ids get a fixed md5("") selection key so they order the same way
    # in the presample filter and the exact window — never silently dropped.
    return F.md5(F.coalesce(F.col(id_col).cast("string"), F.lit("")))


def _sel_key(id_col: str):
    return F.conv(F.substring(_id_md5(id_col), 1, 15), 16, 10).cast("bigint")


def presample_for_cap(
    df: DataFrame, key_col: str, id_col: str, cap: int, margin: int | None = None
) -> DataFrame:
    """Phase 1+2 of the skew-safe per-key cap: aggregate per-key counts
    (map-side combinable — skew-immune), broadcast them back, and keep only
    rows whose md5 selection key falls in the smallest ``(cap+margin)/n``
    fraction of the keyspace for their key.

    The output carries ``__n_key`` (the exact per-key row count) and is a
    deterministic superset of the ``cap`` first rows per key in
    ``(md5(id), id)`` order, provided the superset event holds: survivors
    per key are Binomial(n, (cap+margin)/n); with the default margin of
    ``6*sqrt(cap)+64`` the probability that fewer than ``cap`` survive is
    below ~1e-11 per key (Chernoff), and the outcome is deterministic for
    fixed ids — a passing run stays passing.
    """
    if margin is None:
        margin = int(6 * cap**0.5) + 64
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__n_key"))
    frac = F.least(F.lit(1.0), F.lit(float(cap + margin)) / F.col("__n_key"))
    # eqNullSafe: a NULL key forms its own group (as groupBy/window both
    # treat it) instead of vanishing through an equi-join.
    joined = df.join(
        F.broadcast(counts.withColumnRenamed(key_col, "__cap_key")),
        F.col(key_col).eqNullSafe(F.col("__cap_key")),
    ).drop("__cap_key")
    return joined.where(_sel_key(id_col) <= frac * F.lit(_KEYSPACE))


def capped_per_key(
    df: DataFrame,
    key_col: str,
    id_col: str,
    cap: int,
    margin: int | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Skew-safe deterministic per-key quota: exactly ``min(cap, n)`` rows
    per key, selected in ``(md5(id), id)`` order — the two-phase
    heavy-hitter plan for per-source training-data caps.

    A single ``row_number`` window keyed by a skewed column puts one
    heavy key's entire row set in one task; here the window only ever sees
    the pre-sampled survivors (~``cap+margin`` rows per key regardless of
    the key's true size), so the plan survives a 90%%-one-source corpus.
    Cost: one map-side-combined count agg + broadcast join + bounded
    window, versus the naive plan's one unbounded window shuffle.
    """
    pre = presample_for_cap(df, key_col, id_col, cap, margin)
    # Same NULL-tolerant md5 as the presample filter; a NULL key is one
    # window partition, NULL ids order at md5("")'s position (ties among
    # multiple NULL-id rows are arbitrary, as in the naive plan).
    w = Window.partitionBy(key_col).orderBy(
        _id_md5(id_col), F.col(id_col).asc_nulls_first()
    )
    out = (
        pre.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(cap))
        .drop("__rn")
    )
    if count_col:
        return out.withColumnRenamed("__n_key", count_col)
    return out.drop("__n_key")


def sharded_prefix_bins(
    df: DataFrame,
    key_col: str,
    id_col: str,
    tokens_col: str,
    ctx: int,
    shard_chars: int = 1,
) -> DataFrame:
    """Skew-safe concat-and-chunk bin assignment — the two-level
    prefix-sum plan for sequence packing when one key holds most of the
    corpus (the mitigation seq_pack_bins documents).

    Rows order globally by ``(md5(id), id)`` per key; the md5 HEX PREFIX
    partitions that order into 16^shard_chars contiguous shards, so the
    global running sum decomposes exactly: a window prefix-sum WITHIN
    (key, shard) plus a per-shard token-total offset (a tiny aggregate —
    |keys|·16^shard_chars rows — prefix-summed and broadcast back).  Bin
    ids are IDENTICAL to the single-window plan's, but the big window's
    partition key gains md5 fan-out, so a 90%%-one-source corpus spreads
    over 16^shard_chars tasks instead of one.

    Adds ``bin_id``; one bounded window + one broadcast join replace the
    single skew-prone window.
    """
    sel = F.md5(F.col(id_col).cast("string"))
    shard = F.substring(sel, 1, shard_chars)
    with_shard = df.withColumn("__shard", shard)
    totals = with_shard.groupBy(key_col, "__shard").agg(
        F.sum(tokens_col).alias("__shard_tokens")
    )
    w_off = (
        Window.partitionBy(key_col)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        key_col,
        "__shard",
        F.coalesce(F.sum("__shard_tokens").over(w_off), F.lit(0)).alias(
            "__offset"
        ),
    )
    w_in = (
        Window.partitionBy(key_col, "__shard")
        .orderBy(sel, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        with_shard.join(F.broadcast(offsets), [key_col, "__shard"])
        .withColumn(
            "__cum", F.coalesce(F.sum(tokens_col).over(w_in), F.lit(0))
        )
        # integer div, not float floor: exact at any corpus token total
        .withColumn("bin_id", F.expr(f"(__offset + __cum) div {int(ctx)}"))
        .drop("__shard", "__offset", "__cum")
    )


def first_occurrence_flag(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    flag_col: str = "__first",
    hot_threshold: int = 50_000,
    detect_fraction: float | None = None,
    detect_df: DataFrame | None = None,
) -> DataFrame:
    """Skew-safe exact first-occurrence marking: adds boolean
    ``flag_col``, true on the one row per ``key_col`` group that is
    minimal in ``order_cols`` order (the tuple must be unique per row
    within a key — e.g. (doc_id, position)).

    The naive plan — ``row_number() over (partition by key order by …)
    == 1`` — puts a hot key's ENTIRE row set in one task; a viral
    boilerplate paragraph on a 100 TB corpus is a single-task straggler.
    Here keys are split by a map-side-combined count:

    - cold keys (< ``hot_threshold`` rows) keep the bounded window;
    - hot keys take min-aggregate + broadcast: ``min(struct(order))``
      per key is algebraic (combines map-side, skew-immune), and the
      heavy-hitter key set is at most |corpus|/threshold rows — tiny,
      so both the is-hot marker and the per-key minima broadcast; the
      flag is then a narrow map, no hot-key shuffle anywhere.

    Adaptive: heavy-hitter detection always runs, but when it finds NO
    hot keys — the common case — the plain single-scan window plan is
    returned and the split machinery (second scan, broadcast join,
    union) costs nothing.  ``detect_fraction`` samples the detection
    pass (flagging keys whose SAMPLED count clears a quarter of the
    scaled threshold — a true hot key is missed with vanishing
    probability, and routing is the ONLY thing at stake: both paths are
    exact, so a detection miss costs speed, never correctness).  Output
    is bit-identical to the naive window regardless of which path a key
    takes.

    ``detect_df`` — an ALREADY-SAMPLED cheap stand-in for ``df`` used
    only by heavy-hitter detection (must carry ``key_col`` at sampling
    rate ``detect_fraction``).  When ``df`` is itself derived by an
    expensive transform (e.g. a corpus-wide explode), sampling ``df``
    directly re-runs that transform on ALL rows just to throw 95% away;
    the caller can instead sample the UPSTREAM frame and hand the small
    derived counterpart here.  Detection is routing-only, so a sampling
    mismatch costs speed, never correctness.
    """
    o = F.struct(*[F.col(c) for c in order_cols])
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    if detect_fraction:
        cut = max(2.0, hot_threshold * detect_fraction / 4.0)
        src = (
            detect_df
            if detect_df is not None
            else df.sample(fraction=float(detect_fraction), seed=7)
        )
        counts = src.groupBy(key_col).agg(F.count(F.lit(1)).alias("__n_focc"))
    else:
        cut = float(hot_threshold)
        counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__n_focc"))
    hot_schema = counts.select(key_col).schema
    # bounded-driver collect: at most |rows counted| / cut keys can clear
    # the threshold (e.g. ≤ corpus/50k), and ONE job replaces the former
    # eager-checkpoint + take(1) pair — detection overhead halves
    hot_rows = counts.where(F.col("__n_focc") >= cut).select(key_col).collect()  # bounded-driver: <= rows/cut keys clear the threshold
    if not hot_rows:  # no heavy hitters: single-scan window plan
        return df.withColumn(flag_col, F.row_number().over(w) == 1)
    from ..datasets import arrow_frame

    hot_keys = arrow_frame(
        df.sparkSession, [tuple(r) for r in hot_rows], hot_schema
    )

    marked = df.join(
        F.broadcast(hot_keys.withColumn("__hot_focc", F.lit(True))),
        [key_col],
        "left",
    )
    cold = marked.where(F.col("__hot_focc").isNull()).drop("__hot_focc")
    hot = marked.where(F.col("__hot_focc").isNotNull()).drop("__hot_focc")

    cold_out = cold.withColumn(flag_col, F.row_number().over(w) == 1)

    hot_firsts = (
        hot.groupBy(key_col)
        .agg(F.min(o).alias("__first_focc"))
        # each action on the result broadcasts these stored rows instead
        # of re-aggregating the hot side
        .transform(cut_lineage, eager=True)
    )
    hot_out = (
        hot.join(F.broadcast(hot_firsts), [key_col])
        .withColumn(flag_col, o == F.col("__first_focc"))
        .drop("__first_focc")
    )
    return cold_out.unionByName(hot_out)


def first_occurrence_flag_agg(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    flag_col: str = "__first",
) -> DataFrame:
    """Detection-free skew-safe exact first-occurrence marking: the
    per-key minimum of ``struct(order_cols)`` is an ALGEBRAIC aggregate
    (combines map-side, so a viral key's rows collapse to one partial
    per task before the shuffle), joined back on the key to flag the
    minimal row.  AQE's skew-join split bounds the join's hot-key
    partition, so no single task ever holds a hot key's full row set —
    without :func:`first_occurrence_flag`'s heavy-hitter detection
    pass, its second scan of the input, or its driver collect.

    Trade vs the window plan: one extra shuffle (agg + join vs one
    window), but both shuffles are skew-immune by construction and the
    input is scanned once.  Output is bit-identical to
    ``row_number() over (partition by key order by …) == 1`` (the
    order tuple must be unique per row within a key)."""
    o = F.struct(*[F.col(c) for c in order_cols])
    firsts = df.groupBy(key_col).agg(F.min(o).alias("__first_agg"))
    return (
        df.join(firsts, [key_col])
        .withColumn(flag_col, o == F.col("__first_agg"))
        .drop("__first_agg")
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    salt: int = 8,
    deterministic: bool = True,
) -> DataFrame:
    """Join ``large`` to ``small`` on equi-keys with ``salt``-way key
    spreading.

    ``deterministic=True`` derives the salt from a hash of the large side's
    whole row (stable across retries — safe under speculative execution);
    ``False`` uses ``rand()`` (marginally cheaper, nondeterministic task
    retries).  The small side is exploded ``salt`` times via an array
    literal — no shuffle, the replication happens map-side on (usually)
    a broadcast.
    """
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(
            f"salted_join supports inner/left/right/full, got {how!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    for k in keys:
        if k not in large.columns or k not in small.columns:
            raise ValueError(f"join key {k!r} missing from one side")
    if SALT_COL in large.columns or SALT_COL in small.columns:
        raise ValueError(f"{SALT_COL} already present")
    if how in ("right", "full"):
        return _salted_outer(large, small, keys, how, salt, deterministic)

    if deterministic:
        scatter = F.pmod(F.hash(*[F.col(c) for c in large.columns]), F.lit(salt))
    else:
        scatter = (F.rand(seed=42) * salt).cast("int")
    salted_large = large.withColumn(SALT_COL, scatter)

    replicated_small = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = salted_large.join(replicated_small, keys + [SALT_COL], how)
    return joined.drop(SALT_COL)


def _salted_outer(
    large: DataFrame,
    small: DataFrame,
    keys: list[str],
    how: str,
    salt: int,
    deterministic: bool,
) -> DataFrame:
    """Right/full-outer as salted-inner ∪ null-extended remainders.

    A row-id tags each small row (frozen by an eager lineage cut so
    ``monotonically_increasing_id`` cannot shift under recomputation); the
    matched side comes from the skew-protected salted inner join, the
    unmatched small rows from a row-id anti-join against the match set
    (so a row that matched through ANY replica is never null-extended and
    duplicates keep exact multiplicity), and — for full outer — the
    unmatched large rows from a BROADCAST key anti-join, which never
    shuffles the large side and is skew-immune by construction.  NULL
    join keys never match and survive null-extended, exactly SQL outer
    semantics."""
    rid = "__salted_rid__"
    if rid in small.columns:
        raise ValueError(f"{rid} already present")
    # the row ids must not shift between the inner join and the anti-join
    tagged = small.withColumn(
        rid, F.monotonically_increasing_id()
    ).transform(cut_lineage, eager=True)
    inner = salted_join(large, tagged, keys, "inner", salt, deterministic)
    large_rest = [c for c in large.columns if c not in keys]
    small_rest = [c for c in small.columns if c not in keys]
    out_cols = keys + large_rest + small_rest

    matched_rids = inner.select(rid).distinct()
    unmatched_small = tagged.join(matched_rids, rid, "left_anti")
    null_extended_small = unmatched_small.select(
        *keys,
        *[
            F.lit(None).cast(large.schema[c].dataType).alias(c)
            for c in large_rest
        ],
        *small_rest,
    )
    res = inner.select(*out_cols).unionByName(null_extended_small)
    if how == "full":
        unmatched_large = large.join(
            F.broadcast(small.select(*keys).distinct()), keys, "left_anti"
        )
        null_extended_large = unmatched_large.select(
            *keys,
            *large_rest,
            *[
                F.lit(None).cast(small.schema[c].dataType).alias(c)
                for c in small_rest
            ],
        )
        res = res.unionByName(null_extended_large)
    return res


def explode_skewed_agg(
    df: DataFrame,
    group_cols: list[str],
    agg_exprs: dict[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed group keys: partial aggregate on
    (keys, salt), then final aggregate on keys.

    Only algebraic aggregates decompose this way; supported: sum, count,
    min, max.  (avg = sum/count composed by the caller.)  Spark's hash
    aggregate already does map-side partials, so this matters only when one
    key's partials STILL overwhelm a reducer — i.e. extreme cardinality
    skew at very large scale.
    """
    decompose = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for col, fn in agg_exprs.items():
        if fn not in decompose:
            raise ValueError(f"non-algebraic aggregate {fn!r} for {col!r}")

    salted = df.withColumn(
        SALT_COL, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt))
    )
    partial = salted.groupBy(*group_cols, SALT_COL).agg(
        *[
            getattr(F, fn)(col).alias(f"__p_{col}")
            for col, fn in agg_exprs.items()
        ]
    )
    final = partial.groupBy(*group_cols).agg(
        *[
            getattr(F, decompose[fn])(f"__p_{col}").alias(f"{fn}_{col}")
            for col, fn in agg_exprs.items()
        ]
    )
    return final
