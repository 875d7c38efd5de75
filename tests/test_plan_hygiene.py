"""Global plan hygiene over the ENTIRE query registry.

The per-query plan tests (test_plans.py) lock individual shapes; this
gate sweeps every registered query so a future addition can't quietly
ship a scale-killing plan: no CartesianProduct anywhere, BNLJ only where
it is the intended physical plan, and no driver-side collect in any
query/operator source.
"""

import contextlib
import io

import pytest

from easy_sql_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def query_plans(spark):
    """(schema, formatted plan) for every registry query, built ONCE.

    Construction is the expensive part — lifecycle queries (snapshot
    tables, index ingests) run real fixture jobs before returning their
    frame — and r12's suite paid it twice (plan sweep + schema sweep,
    ~86 s each).  One shared pass restores the schema test to the
    "schema-only, seconds" cost its docstring claims and halves this
    module's wall time; every assertion below is unchanged."""
    plans = {}
    for name, fn in QUERIES.items():
        df = fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plans[name] = (df.schema, buf.getvalue())
    return plans

# BroadcastNestedLoopJoin is the CORRECT plan exactly here:
BNLJ_OK = {
    "j5_cross",  # declared cross-join semantics
    "j7_range_theta",  # non-equi band join, small side broadcast
    "dedup_ngram_jaccard",  # bounded candidate set broadcast for verify
    "sim_topk_bruteforce",  # brute-force baseline: query set broadcast
    "sim_neardup_pairs",  # ditto (threshold variant)
    "sim_ivf_topk",  # probe list broadcast against pruned cells
    # sim_ann_index_search left the list in r14: the queries x K
    # centroids cross-join now runs ONCE inside the search's bounded
    # probe collect, so the returned plan is a plain broadcast hash
    # join against the pruned cells — no BNLJ survives
    "q11_important_stock",  # 1-row scalar threshold crossJoin-broadcast
    "q22_global_sales_opportunity",  # ditto
    "a10_kmv_distinct",  # 1-row sketch x 1-row exact-count join
    "text_dsir_weights",  # 1-row (target, raw) totals crossJoin-broadcast
    "text_bm25_topk",  # 1-row corpus stats (N, avgdl) crossJoin-broadcast
    "data_mixture_weights",  # 1-row token-budget total crossJoin-broadcast
    "sim_recall_at_k",  # composes sim_topk_bruteforce/sim_lsh_topk (both OK)
    "text_minhash_containment",  # bounded candidate theta-join (cf. jaccard)
}


def test_no_cartesian_or_unexpected_bnlj_anywhere(query_plans):
    flagged = {}
    for name, (_schema, plan) in query_plans.items():
        if "CartesianProduct" in plan:
            flagged[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            flagged[name] = "BroadcastNestedLoopJoin (not whitelisted)"
    assert not flagged, f"scale-killing plans: {flagged}"


def test_every_query_schema_is_atomic(query_plans):
    """Driver-canon contract: no query's FINAL schema may contain a
    top-level Array/Map/Struct column — the driver's correctness gate
    sorts result cells with pandas and crashes on them
    (CORRECTNESS_r06: sim_quantize_int8, `unhashable type: 'list'`).
    Flatten with array_join / to_json per the f6_array convention."""
    from tools.check_queries import nonatomic_columns

    flagged = {
        name: bad
        for name, (schema, _plan) in query_plans.items()
        if (bad := nonatomic_columns(schema))
    }
    assert not flagged, f"non-atomic output columns: {flagged}"


def test_bnlj_whitelist_is_not_stale(query_plans):
    """Every whitelisted query must still NEED its entry — a stale
    whitelist hides a future regression behind an old exemption."""
    for name in sorted(BNLJ_OK):
        assert "BroadcastNestedLoopJoin" in query_plans[name][1], (
            f"{name} no longer produces a BNLJ; drop it from BNLJ_OK"
        )


def test_no_driver_collect_in_query_or_operator_sources():
    """Driver discipline, statically: no collect/toPandas/RDD access in
    any query or operator module (the step language's bounded collects
    live in runtime/, by contract)."""
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "easy_sql_spark",
    )
    banned = (".collect(", ".toPandas(", ".rdd")
    hits = []
    for sub in ("queries", "operators"):
        d = os.path.join(root, sub)
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".py"):
                continue
            with open(os.path.join(d, fname), encoding="utf-8") as f:
                for no, line in enumerate(f, 1):
                    code, _, comment = line.partition("#")
                    if "bounded-driver:" in comment:
                        # explicit pragma: the collect is bounded by
                        # design (e.g. one row per partition) and the
                        # comment states the bound — audit them here
                        continue
                    if any(b in code for b in banned):
                        hits.append(f"{sub}/{fname}:{no}: {line.strip()}")
    assert not hits, "driver-side access in declarative modules:\n" + "\n".join(hits)


def test_every_lineage_cut_goes_through_cut_lineage():
    """One materialization policy: every lineage cut in the package calls
    ``operators.iterate.cut_lineage``, so setting a checkpoint dir makes
    all of them reliable.  A direct ``localCheckpoint(`` / ``.checkpoint(``
    anywhere else would silently stay executor-local on a cluster."""
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "easy_sql_spark",
    )
    helper = os.path.join(root, "operators", "iterate.py")
    hits = []
    for cur, _dirs, files in os.walk(root):
        for fname in sorted(files):
            path = os.path.join(cur, fname)
            if not fname.endswith(".py") or path == helper:
                continue
            with open(path, encoding="utf-8") as f:
                for no, line in enumerate(f, 1):
                    if "localCheckpoint(" in line or ".checkpoint(" in line:
                        rel = os.path.relpath(path, root)
                        hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "lineage cuts outside cut_lineage:\n" + "\n".join(hits)


def test_tools_keep_no_private_job_counter_or_steal_reader():
    """One measurement harness: perfbench counts jobs per pass, phase
    and query and reads host steal, so no script under ``tools/`` keeps
    its own job counter or steal reader."""
    import os

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    banned = ("statusTracker(", "getJobIdsForGroup(", "setJobGroup(", "/proc/stat")
    hits = []
    for fname in sorted(os.listdir(tools)):
        path = os.path.join(tools, fname)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for no, line in enumerate(f, 1):
                if any(b in line for b in banned):
                    hits.append(f"tools/{fname}:{no}: {line.strip()}")
    assert not hits, "private measurement code in tools/:\n" + "\n".join(hits)


def test_snapshot_layer_keeps_no_legacy_manifest_fallback():
    """One manifest format: ``SnapshotTable.manifest()`` refuses a
    manifest without its per-stream, row and byte maps, so no code keeps
    the streams sidecar or walks the filesystem for sizes."""
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "easy_sql_spark",
    )
    banned = ("_STREAMS_SIDECAR", "_streams_carry", "getContentSummary")
    hits = []
    for cur, _dirs, files in os.walk(root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(cur, fname)
            with open(path, encoding="utf-8") as f:
                for no, line in enumerate(f, 1):
                    if any(b in line for b in banned):
                        rel = os.path.relpath(path, root)
                        hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "legacy-manifest fallbacks:\n" + "\n".join(hits)


def test_keyed_merges_run_no_driver_action():
    """The SCD2 and upsert merges build one plan that the eager cut
    runs: no ``.count()``, ``.first()`` or ``.collect()`` (a DataFrame
    action, so an extra job) inside either merge."""
    import ast
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "easy_sql_spark",
        "runtime",
        "backend.py",
    )
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    merges = {
        node.name: node
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
        and node.name in ("_merge_scd2_frame", "_merge_upsert_frame")
    }
    assert sorted(merges) == ["_merge_scd2_frame", "_merge_upsert_frame"]
    hits = [
        f"{name}:{call.lineno}: .{call.func.attr}()"
        for name, fn in merges.items()
        for call in ast.walk(fn)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr in ("count", "first", "collect")
        and not call.args
        and not call.keywords
    ]
    assert not hits, "driver actions inside the keyed merges:\n" + "\n".join(hits)
