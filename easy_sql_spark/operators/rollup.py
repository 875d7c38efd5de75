"""Incremental materialized-rollup maintenance over snapshot tables.

Classic incremental view maintenance (IVM) for distributive aggregates:
the rollup is itself a snapshot table whose manifests RECORD the source
version they reflect, and each ``maintain_rollup`` call consumes only
the source's change feed since then —

    delta  = changes(last, latest) grouped with +1/-1 signs
    merged = (old rollup rows for the delta's keys) + delta
    rollup.merge(merged)   # dir-granular copy-on-write

so refreshing a rollup over a 100 TB source costs the CHANGE size plus
the rollup dirs holding touched keys, never a source scan.  Sum and
count are maintained exactly (deletes subtract); a group whose rows all
disappear is kept at ``n = 0`` (the standard IVM artifact — consumers
filter ``n > 0``; min/max are NOT maintainable this way and are
deliberately out of scope).

The source-version bookmark rides the rollup's own manifest ``extra``
(``rollup_src_version``), so the call is idempotent and self-driving:
call it after any number of source commits and it catches up; call it
twice and the second call is a no-op.  First call bootstraps the rollup
with one full aggregate of the source's current version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime.snapshots import SnapshotTable
from .iterate import cut_lineage


def maintain_rollup(
    spark: SparkSession,
    src_root: str,
    rollup_root: str,
    group_cols: list[str],
    sum_cols: list[str],
) -> dict:
    """Catch the rollup at ``rollup_root`` up to the source snapshot at
    ``src_root``.  Rollup schema: group_cols + ``sum_<c>`` per sum col +
    ``n`` (signed row count).  Returns a report dict."""
    src = SnapshotTable(spark, src_root)
    rollup = SnapshotTable(spark, rollup_root)
    latest = src.latest_version()
    if not latest:
        raise ValueError(f"no committed source versions at {src_root}")

    def agg(df: DataFrame, sign) -> DataFrame:
        return df.groupBy(*group_cols).agg(
            *[
                F.sum(sign * F.col(c)).alias(f"sum_{c}")
                for c in sum_cols
            ],
            F.sum(sign).alias("n"),
        )

    rv = rollup.latest_version()
    if not rv:  # bootstrap: one full aggregate of the current source
        full = agg(src.read(version=latest), F.lit(1))
        rollup.create(full)
        # create() cannot carry extra; stamp the bookmark via overwrite
        rollup.overwrite(full, extra={"rollup_src_version": latest})
        return {"mode": "bootstrap", "src_version": latest}

    last = rollup.manifest(rv).get("rollup_src_version")
    if last is None:
        raise ValueError(
            f"rollup at {rollup_root} carries no rollup_src_version "
            "bookmark; was it created by maintain_rollup?"
        )
    if latest <= last:
        return {"mode": "noop", "src_version": last}

    # allow_rewrites is SAFE here: a compact rewrites identical rows, so
    # its delete+insert pairs contribute exactly zero to every signed
    # sum/count — the rollup absorbs source compactions for free
    ch = src.changes(last, latest, allow_rewrites=True)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    # two consumers: its key set below and the summed union
    delta = cut_lineage(
        agg(ch.withColumn("__sign", sign), F.col("__sign")), eager=True
    )
    # old rollup rows for the delta's keys only (broadcast the delta's
    # bounded key set), summed with the delta
    old_hit = rollup.read().join(
        F.broadcast(delta.select(*group_cols)), group_cols, "left_semi"
    )
    merged = (
        old_hit.unionByName(delta)
        .groupBy(*group_cols)
        .agg(
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            F.sum("n").alias("n"),
        )
    )
    rollup.merge(
        merged, keys=list(group_cols),
        extra={"rollup_src_version": latest},
    )
    return {"mode": "delta", "from_version": last, "src_version": latest}
