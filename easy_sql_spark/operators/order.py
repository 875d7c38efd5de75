"""Global ordered row numbering without the single-task global window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY compiles to a
single-partition window — every row through ONE task, the classic scale
trap (fine at 60k rows, fatal at 100 TB).  The scalable formulation is
two narrow passes over a range-partitioned sort:

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order keys
   (the one shuffle any global ordering pays), checkpointed so both
   passes see identical partitioning.
2. Per-partition row counts (a |partitions|-row aggregate) → prefix-sum
   offsets on the driver — driver traffic is one number per partition.
3. Per-row id = partition offset + local sequence, where the local
   sequence falls out of ``monotonically_increasing_id`` arithmetic
   (``mid = pid * 2^33 + local_index`` on a sorted partition) — no
   window, no second shuffle, whole-stage codegen throughout.

Ties: callers must make the order key unique (append a tiebreak column);
a non-unique order makes any engine's row numbering nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .iterate import cut_lineage


def global_row_number(
    df: DataFrame,
    order_by: list[Column | str],
    id_col: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` numbering rows 0..n-1 in ``order_by`` order."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        # cut so both passes see identical partitioning; lazy:
        # the per-partition count below is the materializing FULL scan
        # (every partition computes inside its job), so the eager form's
        # dedicated job was pure scheduler constant
        .transform(cut_lineage, eager=False)
    )
    counts = (
        base.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()  # bounded-driver: one row per partition, by design
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["count"]
    offset_map = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )
    pid = F.spark_partition_id()
    local_seq = F.monotonically_increasing_id() - F.shiftleft(
        pid.cast("long"), 33
    )
    return base.withColumn(
        id_col, (offset_map[pid] + local_seq).cast("long")
    )
