"""The one lineage cut: every materialization the runtime, operators and
registry queries decide on goes through :func:`cut_lineage`.

A cut is needed where a plan would otherwise be recomputed or grow
without bound: a driver decision reads the frame, a target table is
read and then overwritten, a frame has several consumers, or an
iterative operator (connected components, PageRank, BPE) must keep its
plan tree from growing linearly in rounds and its analysis time
quadratically.

``localCheckpoint`` (the default) materializes to executor block
storage — free of HDFS round-trips, but blocks die with their executor,
and Spark cannot recompute past a truncated lineage, so on a REAL
cluster a lost executor kills the job.  On ``local[...]`` this cannot
happen (one JVM), which is why it is the right default for this repo's
test/bench environment.

For cluster runs, set a RELIABLE checkpoint dir
(``spark.sparkContext.setCheckpointDir("hdfs://…/ckpt")`` or the
``spark.checkpoint.dir`` conf) and every cut switches to
``DataFrame.checkpoint`` — durable against executor loss, at the cost
of one distributed-FS write per cut.  That is the standard Pregel /
GraphX trade (GraphX's own periodic-checkpoint guidance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame, *, eager: bool) -> DataFrame:
    """Materialize ``df`` and truncate its lineage — reliably when the
    session has a checkpoint dir configured, executor-locally otherwise.

    ``eager=True`` runs a dedicated job now.  ``eager=False`` fuses the
    materialization into the caller's next full-scan action; every later
    consumer reads the stored blocks exactly as with the eager form.
    Lazy is only safe when the caller GUARANTEES a full-scan action runs
    before the frame is consumed elsewhere (a limit/partial action may
    materialize a subset of partitions and defer the rest)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
