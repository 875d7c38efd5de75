"""Interval-overlap join without a nested-loop plan.

``l.start <= r.end AND r.start <= l.end`` is a theta join — Spark can
only BNLJ it, which is quadratic and the single worst plan shape at
scale.  The standard scalable reformulation buckets the number line into
fixed-width cells: every interval joins its covered cells, overlap
candidates meet on a cell equi-join (one hash shuffle), and the exact
predicate filters false positives from shared cells.

Duplicate suppression is algebraic, not a ``distinct``: a pair
overlapping across several shared cells is emitted only in the
CANONICAL cell ``max(floor(l_start/w), floor(r_start/w))`` — the first
cell where both intervals are live — so no dedup shuffle exists in the
plan.

Cost model: expansion factor = interval_length / bucket_width + 1 per
side; candidates per cell ≈ (left density × right density) × w.  Pick
``bucket_width`` near the typical interval length — much smaller
explodes rows, much larger explodes per-cell candidate pairs.  Both
failure modes degrade gracefully (still no cartesian product).

Numeric columns only (cast timestamps to epoch seconds first); bounds
are inclusive on both ends, matching SQL BETWEEN-style overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .iterate import cut_lineage


def interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Overlap join; output columns = left's then right's (callers alias
    to avoid collisions, as with any join).  ``how="left"`` keeps
    non-overlapping left rows with NULL right columns — implemented as
    inner ∪ (anti on a checkpointed synthetic row id), the only extra
    cost being one distinct over matched ids."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    w = int(bucket_width)

    def cells(df: DataFrame, start: str, end: str) -> DataFrame:
        lo = F.floor(F.col(start) / w).cast("long")
        hi = F.floor(F.col(end) / w).cast("long")
        return df.withColumn("__cell", F.explode(F.sequence(lo, hi)))

    def inner_join(l: DataFrame) -> DataFrame:
        lb = cells(l, l_start, l_end)
        rb = cells(right, r_start, r_end)
        joined = lb.join(rb, "__cell")
        overlap = (F.col(l_start) <= F.col(r_end)) & (
            F.col(r_start) <= F.col(l_end)
        )
        canonical = F.col("__cell") == F.greatest(
            F.floor(F.col(l_start) / w).cast("long"),
            F.floor(F.col(r_start) / w).cast("long"),
        )
        return joined.where(overlap & canonical).drop("__cell")

    if how == "inner":
        return inner_join(left)

    # left outer: a synthetic row id (cut so both passes see the
    # same values) identifies unmatched left rows exactly
    lid = left.withColumn(
        "__lid", F.monotonically_increasing_id()
    ).transform(cut_lineage, eager=True)
    inner = inner_join(lid)
    unmatched = lid.join(inner.select("__lid").distinct(), "__lid", "left_anti")
    for field in right.schema.fields:
        unmatched = unmatched.withColumn(
            field.name, F.lit(None).cast(field.dataType)
        )
    return inner.drop("__lid").unionByName(unmatched.drop("__lid"))
