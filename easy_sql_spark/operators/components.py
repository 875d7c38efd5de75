"""Connected components via alternating large-star / small-star rounds.

The neighbor-min label propagation in ``queries/llm_ops.py``
``dedup_components`` needs rounds proportional to the component DIAMETER —
right for near-dup clusters (tiny diameters), terminal for pathological
graphs (a 10k-node chain).  This module carries the escape hatch: the
alternating-star algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14), which contracts components toward their
minimum node in O(log n) rounds regardless of diameter.

Each round is two half-steps over the edge list alone (no separate label
table):

- **large-star**: every node u emits (v, m) for each strictly larger
  neighbor v, where m = min(u ∪ N(u)) — big nodes hook onto their
  neighborhood minimum;
- **small-star**: orient each edge (max, min); every node u emits (v, m)
  for its smaller neighbors and itself — flattening local trees into
  stars.

At the fixed point every edge is (node, component-min).  Convergence is
detected by an (order-insensitive) edge-set checksum going stable:
count + bit_xor of xxhash64(u, v) — two map-side-combined aggregates per
round, no extra join.  Both half-steps are one groupBy + one equi-join on
uniform node ids; the intermediate edge set never exceeds ~2|E|, so the
plan scales to billion-edge graphs the way the paper's MapReduce original
does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import cut_lineage


def _large_star(edges: DataFrame) -> DataFrame:
    und = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = und.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    dird = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = dird.groupBy("u").agg(F.min("v").alias("m"))
    return (
        dird.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionAll(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free under ANSI mode (edges are
    # distinct, so xor cancellation of duplicates cannot occur)
    row = edges.select(F.xxhash64("u", "v").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
    ).first()
    return int(row.n), int(row.x)


def connected_components_star(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    max_rounds: int | None = None,
) -> DataFrame:
    """Component labels ``(u, label)`` — label = min node id of the
    component — for an undirected edge list, in O(log n) star rounds.

    ``max_rounds`` defaults to ``2*ceil(log2(|V|+2)) + 8``; exceeding it
    raises (the same fail-loudly contract as the label-propagation
    variant), but unlike a diameter-bound cap this one only trips on a
    genuine bug, not on a legal-but-long chain."""
    import math

    # lazy: the prev-checksum aggregate below (full scan) materializes e;
    # nodes materialize inside their first consumer (count or final join)
    e = (
        edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(cut_lineage, eager=False)
    )
    nodes = (
        e.select("u")
        .unionAll(e.select(F.col("v").alias("u")))
        .distinct()
        .transform(cut_lineage, eager=False)
    )
    if max_rounds is None:
        n_nodes = nodes.count()
        max_rounds = 2 * math.ceil(math.log2(n_nodes + 2)) + 8

    prev = _checksum(e)
    converged = False
    for _ in range(max_rounds):
        # lazy checkpoint: the checksum's full-scan aggregate is the
        # materializing action, so each round costs ONE job not two
        e = _small_star(_large_star(e)).transform(cut_lineage, eager=False)
        cur = _checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_rounds} rounds"
        )
    mapping = e.groupBy("u").agg(F.min("v").alias("label"))
    return nodes.join(mapping, "u", "left").select(
        "u", F.coalesce("label", F.col("u")).alias("label")
    )


def _local_components(spark, rows, u_type) -> DataFrame:
    """Union-find over a DRIVER-collected edge list — the 'finish
    locally once the graph is small' step of Kiveris et al. §6 (their
    MapReduce rounds also hand off to a single machine below a size
    threshold).  Union always attaches the larger root under the
    smaller, so every root IS its component's minimum — the same label
    contract as the distributed paths.  Deterministic: no ordering
    dependence (min is commutative over any union order)."""
    from pyspark.sql.types import StructField, StructType

    from ..datasets import arrow_frame

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r["u"], r["v"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    schema = StructType(
        [StructField("u", u_type), StructField("label", u_type)]
    )
    # arrow_frame, not createDataFrame: the label table can be up to
    # ~2x LOCAL_COMPONENT_EDGE_ROWS rows, and the pickled-row path costs
    # seconds PER EVALUATION at that size (measured r14) while Arrow is
    # ~0.25s — and downstream consumers (joins, the final sort) may
    # evaluate this frame more than once
    return arrow_frame(spark, [(n, find(n)) for n in parent], schema)


#: edge rows at/below this finish on the driver (~200k rows ≈ tens of
#: MB collected); above it the distributed rounds run.  Per-batch
#: near-dup graphs of a daily load are almost always below — the
#: distributed machinery exists for the exceptions, not the rule.
LOCAL_COMPONENT_EDGE_ROWS = 200_000


def local_non_min_ids(
    edges: DataFrame,
    local_threshold: int = LOCAL_COMPONENT_EDGE_ROWS,
) -> list | None:
    """Driver-side shortcut for the commonest components CONSUMER: the
    ids that are NOT their component's minimum (the "dropped" side of a
    min-wins dedup).  ``edges`` may be ONE-directional (u < v pairs) —
    union-find needs no symmetrization, unlike label propagation.

    Returns the dropped ids as a plain list when the graph fits under
    ``local_threshold`` edge rows (one bounded limit-collect job — the
    same probe ``label_propagation_components`` runs), else ``None`` and
    the caller takes the distributed path.  The payoff over collecting
    ``label_propagation_components``'s local result frame: the caller
    can apply a list this small as a NARROW ``isin`` filter over an
    already-materialized frame — zero further Spark jobs — where a
    label frame costs a broadcast-build job per consumer."""
    head = edges.limit(
        local_threshold + 1
    ).collect()  # bounded-driver: ≤ local_threshold+1 narrow rows
    if len(head) > local_threshold:
        return None
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in head:
        a, b = r["u"], r["v"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [n for n in parent if find(n) != n]


def label_propagation_components(
    edges: DataFrame,
    max_rounds: int = 20,
    local_threshold: int | None = LOCAL_COMPONENT_EDGE_ROWS,
) -> DataFrame:
    """Neighbor-min label propagation with automatic escalation.

    ``edges`` must be SYMMETRIZED (both directions present), columns
    ``u, v``.  Rounds needed equal the component diameter — the right
    cost model for near-dup clusters (tiny diameters, each round one
    join + aggregate).  A graph whose diameter exceeds ``max_rounds``
    is legal, just pathological for this plan, so instead of failing the
    loop ESCALATES to ``connected_components_star`` (O(log n) rounds
    regardless of diameter) and still returns exact labels.

    Graphs at/below ``local_threshold`` edge rows FINISH ON THE DRIVER
    (:func:`_local_components`): one bounded limit-collect + union-find
    replaces 4-6 AQE stage jobs per converged iteration — at daily-batch
    sizes the scheduler constant dominates the actual propagation work
    (SCALE.md, dedup-index lifecycle).  The size probe is a single
    ``limit(threshold+1)`` job; oversized graphs pay it once and take
    the distributed rounds unchanged.  Pass ``local_threshold=None``
    to force the distributed path.

    Returns ``(u, label)`` with label = component minimum."""
    # size-probe BEFORE any checkpoint: converting a plan to a (lazy)
    # localCheckpoint RDD executes its non-final AQE stages eagerly, so
    # checkpointing first would pay 1-2 stage jobs even when the graph
    # takes the driver path and never iterates
    if local_threshold:
        head = edges.limit(
            local_threshold + 1
        ).collect()  # bounded-driver: ≤ local_threshold+1 narrow rows
        if len(head) <= local_threshold:
            return _local_components(
                edges.sparkSession, head, edges.schema["u"].dataType
            )
    # distributed path: lazy checkpoint — iteration 1's fused
    # materialize+convergence job is the first full-scan action over the
    # edges; later iterations and the star escalation read cached blocks
    edges = edges.transform(cut_lineage, eager=False)
    # labels is a cheap distinct over the CHECKPOINTED edges — its two
    # consumers inside iteration 1 reuse the distinct's Exchange within
    # that one job, so a separate checkpoint here would only add a
    # barrier (one job per label_propagation call) without saving work
    labels = (
        edges.select("u")
        .distinct()
        .select("u", F.col("u").alias("label"))
    )

    def _step(lab: DataFrame) -> DataFrame:
        """One propagation step as ONE join + ONE aggregate: each node's
        own (u, label) row is unioned into the neighbor-label stream and
        the previous label rides the same groupBy as a conditional min —
        so the update AND the moved flag come out of a single exchange,
        with no post-aggregation join back to the label table (the
        former _neighbor_min + left-join shape paid two extra exchanges
        per step, i.e. two extra AQE stage jobs on small graphs)."""
        contrib = (
            edges.alias("e")
            .join(lab.alias("l"), F.col("e.v") == F.col("l.u"))
            .select(
                F.col("e.u").alias("u"),
                F.col("l.label").alias("label"),
                F.lit(False).alias("own"),
            )
            .unionAll(
                lab.select("u", "label", F.lit(True).alias("own"))
            )
        )
        # every node has exactly ONE own row, so min(label WHERE own) is
        # its previous label; min over all contribs is least(own label,
        # neighbor minimum) — the propagation update
        return contrib.groupBy("u").agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("own"), F.col("label"))).alias("__old"),
        )

    changed = 0
    # TWO propagation steps fused per iteration: near-dup components
    # have diameter 1-2, so the common case converges with ONE
    # checkpoint + ONE convergence count instead of two of each — the
    # barrier (job) count, not the data volume, is what this loop costs
    # at small diameters.  The moved flag reflects the SECOND step: if
    # nothing moved there, the first step's output (== the returned
    # labels) is a fixed point, so stopping is exact.
    for _ in range((max_rounds + 1) // 2):
        mid = _step(labels).select("u", "label")
        updated = (
            _step(mid)
            .select(
                "u",
                "label",
                (F.col("label") < F.col("__old")).alias("moved"),
            )
        ).transform(cut_lineage, eager=False)
        # full-scan aggregate (not limit(1)) ON PURPOSE: it is the lazy
        # checkpoint's materializing action, fusing ckpt + convergence
        # count into one job per iteration — and a partial action could
        # leave checkpoint partitions unmaterialized for later consumers
        changed = int(
            updated.agg(
                F.coalesce(
                    F.sum(F.col("moved").cast("long")), F.lit(0)
                ).alias("n")
            ).first()["n"]
        )
        labels = updated.drop("moved")
        if changed == 0:
            break
    if changed != 0:
        # diameter exceeds the round cap: escalate to the star algorithm
        return connected_components_star(edges)
    return labels
