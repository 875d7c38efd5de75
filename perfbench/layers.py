"""Per-layer tracing for the benchmark's traced run.

Three sources, all installed from here and only in a traced run:

* wrappers around the public entry points of the package's layers
  (session, datasets, core, functions, processor, backend, snapshots,
  operators), which add wall time and call counts per layer;
* a py4j round-trip counter on the driver's gateway client;
* Spark's event log, parsed after the session stops, which gives jobs,
  stages, tasks, shuffle, spill and the Python-worker SQL metrics per
  job group.  The harness sets one job group per pass (and per query
  phase), so every event is attributed to the pass that caused it.

Times are inclusive: a layer's figure contains the layers it calls.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time
from collections import defaultdict

from pyspark import SparkContext

#: job description the ``datasets.load_table`` wrapper sets while it runs,
#: so the event log attributes schema-inference jobs to it
LOAD_TABLE_DESC = "perfbench:load_table"

_SNAPSHOT_COMMITS = (
    "create", "append", "overwrite", "overwrite_partitions", "merge",
    "commit_batch",
)
#: (module, class or None, attribute, metric prefix)
_OPERATORS = (
    ("easy_sql_spark.operators.dedup_index", "MinHashDedupIndex", "ingest",
     "operators.s.dedup_index.ingest"),
    ("easy_sql_spark.operators.dedup_index", "MinHashDedupIndex", "flush",
     "operators.s.dedup_index.flush"),
    ("easy_sql_spark.operators.ann_index", "IVFIndex", "create",
     "operators.s.ann_index.create"),
    ("easy_sql_spark.operators.ann_index", "IVFIndex", "ingest",
     "operators.s.ann_index.ingest"),
    ("easy_sql_spark.operators.ann_index", "IVFIndex", "search",
     "operators.s.ann_index.search"),
    ("easy_sql_spark.operators.kmeans", None, "lloyd_kmeans",
     "operators.s.kmeans.lloyd_kmeans"),
    ("easy_sql_spark.operators.kmeans", None, "assign_clusters",
     "operators.s.kmeans.assign_clusters"),
    ("easy_sql_spark.operators.zorder", None, "zorder_value",
     "operators.s.zorder.zorder_value"),
)

#: SQL metric names Spark gives its Python-evaluation operators
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_ROWS = "number of output rows"

MB = float(1 << 20)


class Tracer:
    """Layer wrappers plus a py4j counter; ``install`` once per run,
    ``enabled`` toggles recording between traced and untraced passes."""

    def __init__(self) -> None:
        self.enabled = False
        self.counters: dict[str, float] = defaultdict(float)
        self._installed = False
        self._depth: dict[str, int] = defaultdict(int)
        self._harness = 0  # >0 while harness code makes py4j calls

    # ------------------------------------------------------------ control
    def reset(self) -> dict[str, float]:
        out = dict(self.counters)
        self.counters.clear()
        return out

    @contextlib.contextmanager
    def harness(self):
        """py4j calls inside are the harness's own and are not counted."""
        self._harness += 1
        try:
            yield
        finally:
            self._harness -= 1

    def set_session(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        if getattr(client, "_perfbench_counted", False):
            return
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if not tracer.enabled or tracer._harness:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.counters["py4j.s"] += time.perf_counter() - t0
                tracer.counters["py4j.calls"] += 1

        client.send_command = send_command
        client._perfbench_counted = True

    # ------------------------------------------------------------ wrappers
    def _timed(self, fn, key: str, group: str | None = None,
               count_key: str | None = None, per_name=None, job_desc=None):
        """Wrap ``fn``: add its wall to ``key`` (only for the outermost
        call of ``group``) and one to ``count_key``."""
        tracer = self
        group = group or key

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer._depth[group]:
                return fn(*args, **kwargs)
            tracer._depth[group] += 1
            prev_desc = None
            sc = SparkContext._active_spark_context if job_desc else None
            if sc is not None:
                with tracer.harness():
                    prev_desc = sc.getLocalProperty("spark.job.description")
                    sc.setLocalProperty("spark.job.description", job_desc)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._depth[group] -= 1
                tracer.counters[key] += dt
                if count_key:
                    tracer.counters[count_key] += 1
                if per_name is not None:
                    tracer.counters[per_name(args)] += dt
                if sc is not None:
                    with tracer.harness():
                        sc.setLocalProperty("spark.job.description", prev_desc)

        return wrapper

    def _patch_function(self, module_name: str, attr: str, wrapper_of) -> None:
        """Replace a module-level function in its module and in every
        loaded package module that imported it by name."""
        orig = getattr(importlib.import_module(module_name), attr)
        wrapper = wrapper_of(orig)
        for name, mod in list(sys.modules.items()):
            if (name == "easy_sql_spark" or name.startswith("easy_sql_spark.")) \
                    and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)

    def install(self) -> None:
        """Wrap every traced entry point (idempotent)."""
        if self._installed:
            return
        self._installed = True
        # import every module whose functions get wrapped, so the
        # by-name copies exist before they are patched
        import easy_sql_spark.queries  # noqa: F401
        from easy_sql_spark.core.context import FuncRunner
        from easy_sql_spark.core.step import Step
        from easy_sql_spark.runtime.backend import SparkBackend
        from easy_sql_spark.runtime.processor import SqlProcessor
        from easy_sql_spark.runtime.snapshots import SnapshotTable

        self._patch_function(
            "easy_sql_spark.session", "build_session",
            lambda f: self._timed(f, "session.build_s"))
        self._patch_function(
            "easy_sql_spark.datasets", "load_table",
            lambda f: self._timed(f, "datasets.load_table_s",
                                  count_key="datasets.load_table_calls",
                                  job_desc=LOAD_TABLE_DESC))
        def method(owner, attr: str, key: str, **kw) -> None:
            setattr(owner, attr, self._timed(getattr(owner, attr), key, **kw))

        method(SqlProcessor, "__init__", "core.parse_s")
        method(Step, "preprocess_sql", "core.preprocess_s",
               count_key="core.preprocess_calls")
        method(FuncRunner, "run_func_call", "functions.s",
               count_key="functions.calls",
               per_name=lambda a: f"functions.s.{a[1]}")
        method(SparkBackend, "exec_sql", "backend.exec_sql_s",
               count_key="backend.exec_sql_calls")
        method(SparkBackend, "save_table", "backend.save_table_s",
               count_key="backend.save_table_calls")
        method(SparkBackend, "compact_table", "backend.compact_table_s")
        for attr in _SNAPSHOT_COMMITS:
            method(SnapshotTable, attr, "snapshots.commit_s",
                   group="snapshots.commit", count_key="snapshots.commits")
        method(SnapshotTable, "read", "snapshots.read_s")
        for module_name, cls, attr, key in _OPERATORS:
            if cls is None:
                self._patch_function(
                    module_name, attr, lambda f, k=key: self._timed(f, k))
            else:
                method(getattr(importlib.import_module(module_name), cls),
                       attr, key)


# ------------------------------------------------------------ event log
def _plan_python_metrics(node, out: dict[int, str]) -> None:
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if PY_SENT in names or PY_RETURNED in names:
        for label, metric in (("sent", PY_SENT), ("returned", PY_RETURNED),
                              ("rows", PY_ROWS)):
            if metric in names:
                out[names[metric]] = label
    for child in node.get("children", []):
        _plan_python_metrics(child, out)


def read_event_log(events_dir: str) -> dict[str, dict[str, float]]:
    """Aggregate the event log per job group.

    Returns ``{group: {metric: value}}`` with job, stage and task counts,
    task/CPU/GC seconds, shuffle and spill MB, Python-worker MB and rows,
    and the jobs launched while ``datasets.load_table`` ran."""
    paths = sorted(
        os.path.join(d, f) for d, _dirs, files in os.walk(events_dir)
        for f in files if f.startswith("events_"))
    stage_group: dict[int, str] = {}
    py_accums: dict[int, str] = {}
    stage_accums: list[tuple[str, list]] = []
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    g = out[group]
                    g["jobs"] += 1
                    if props.get("spark.job.description") == LOAD_TABLE_DESC:
                        g["load_table_jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "")
                    out[group]["stages"] += 1
                    stage_accums.append((group, info.get("Accumulables", [])))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    g = out[group]
                    g["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        g["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)) / MB
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_python_metrics(ev.get("sparkPlanInfo") or {}, py_accums)
    for group, accums in stage_accums:
        for acc in accums:
            label = py_accums.get(acc.get("ID"))
            if label is None:
                continue
            value = float(acc.get("Value") or 0)
            if label == "rows":
                out[group]["py_rows"] += value
            else:
                out[group][f"py_{label}_mb"] += value / MB
    return out
