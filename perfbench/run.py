#!/usr/bin/env python3
"""sparketl benchmark: one workload in one driver process.

    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The process builds the session
(``local[nproc]``) and registers the workload's input tables, computes
the DuckDB references in a child process, runs one cold pass and then
warm passes back to back (a closed loop) until ``--seconds`` have
passed, at least one, checks every operation's output, stops the JVM, deletes its
private working root in the checkout and prints one line per metric
followed by one JSON line.  The seed picks the workload's parameters
and the order of its operations.

With ``--trace 0`` the JSON carries the end-to-end metrics named in
BENCHMARK.json; with ``--trace 1`` it carries the per-layer metrics of a
traced run, in which untraced and traced warm passes alternate so the
tracing overhead is measured in the same process.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = float(1 << 20)


def process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_sample() -> tuple[int, float]:
    """(steal ticks since boot, 1-minute load average).  Steal is the
    8th value of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return steal, load


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers): the user and system time of each, plus
    that of its children already reaped.  In a virtual machine the kernel
    charges a tick in which the hypervisor ran another guest to steal,
    not to the process, so unlike wall time this leaves out time the
    host took away."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_hwm_mb(proc) -> float:
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Run:
    def __init__(self, args) -> None:
        self.workload_name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.step_s: dict[str, float] = {}
        self.steps = 0
        self.jvm_hwm_mb = 0.0

    # --------------------------------------------------------- environment
    def make_dirs(self) -> None:
        for d in ("tmp", "local", "warehouse", "derby", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            "SPARK_GRAFT_CPUS": str(self.nproc),
            "PYSPARK_PYTHON": sys.executable,
            # HotSpot writes its performance-counter file to /tmp, whatever
            # java.io.tmpdir says; keep the counters in memory instead.  The
            # launcher JVM that spark-submit starts first takes these options.
            "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
        })
        tempfile.tempdir = tmp

    def conf(self) -> dict[str, str]:
        w = self.work
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
            "spark.local.dir": os.path.join(w, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(w, 'tmp')} "
                f"-Dderby.system.home={os.path.join(w, 'derby')} "
                "-XX:+PerfDisableSharedMem"),
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(w, "events"),
                "spark.eventLog.compress": "false",
            })
        return conf

    # ------------------------------------------------------------- session
    def setup(self, workload) -> None:
        from easy_sql_spark import session

        self.spark = session.build_session("perfbench", extra_conf=self.conf())
        workload.register(self.spark)
        if self.tracer:
            self.tracer.set_session(self.spark)
        self.spark.sparkContext.setLogLevel("ERROR")

    def job_group(self, group: str) -> None:
        """Attribute the jobs that follow to ``group`` (a pass or a phase)."""
        guard = self.tracer.harness() if self.tracer else contextlib.nullcontext()
        with guard:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def jobs_in(self, group: str) -> int:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def record_steps(self, report) -> None:
        for step in report.steps:
            kind = step.target.split(".", 1)[0]
            self.step_s[kind] = self.step_s.get(kind, 0.0) + step.elapsed
            self.steps += 1

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every child."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        procs = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                self.jvm_hwm_mb = jvm_hwm_mb(proc)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while any(alive(p) for p in procs) and time.time() < deadline:
            time.sleep(0.1)
        for p in procs:
            if alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def quartiles(values: list[float]) -> str:
    if len(values) < 2:
        return "n=%d" % len(values)
    q = statistics.quantiles(values, n=4)
    return f"n={len(values)} q1={q[0]:.4f} q3={q[2]:.4f}"


def main() -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run = Run(args)
    steal0, _ = host_sample()
    run.make_dirs()
    try:
        return measure(run, spec, t_start, steal0)
    finally:
        if run.spark is not None or _gateway_alive():
            run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        parent = os.path.dirname(run.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _gateway_alive() -> bool:
    mod = sys.modules.get("pyspark")
    return bool(mod and mod.SparkContext._gateway is not None)


def measure(run: Run, spec: dict, t_start: float, steal0: int) -> int:
    sys.path.insert(0, ROOT)
    import workloads
    from layers import Tracer, read_event_log

    workload = workloads.WORKLOADS[run.workload_name](run.seed, run.work)
    workload.run = run
    if run.traced:
        run.tracer = Tracer()
        run.tracer.install()
        run.tracer.enabled = True
    run.setup(workload)
    setup_s = time.time() - t_start
    setup_layers = run.tracer.reset() if run.tracer else {}

    # the DuckDB references come from a child process, between set-up and
    # the cold pass, so no measured interval contains them
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), run.workload_name,
         str(run.seed), run.work], check=True, stdout=subprocess.DEVNULL)
    prepare_s = time.perf_counter() - t0
    with open(os.path.join(run.work, "references.json")) as f:
        workload.refs = json.load(f)

    attempted = failed = 0
    failures: list[str] = []
    passes: list[dict] = []

    def one_pass(n: int, traced: bool) -> dict:
        nonlocal attempted, failed
        if run.tracer:
            run.tracer.enabled = traced
            run.tracer.reset()
        run.step_s, run.steps = {}, 0
        run.job_group(f"p{n}")
        cpu0 = tree_cpu_s()
        results = workload.run_pass(n)
        cpu_s = tree_cpu_s() - cpu0
        layers = run.tracer.reset() if run.tracer else {}
        if run.tracer:
            run.tracer.enabled = False
        run.job_group(f"v{n}")
        info = {
            "n": n, "traced": traced,
            "seconds": sum(r.seconds for r in results),
            "cpu_s": cpu_s,
            "layers": layers, "steps": run.steps, "step_s": dict(run.step_s),
            "ops": results,
        }
        if not run.traced:
            info["jobs"] = run.jobs_in(f"p{n}")
        info.update(workload.after_pass(n, results))
        for r in results:
            attempted += 1
            if not r.ok:
                failed += 1
                failures.append(f"pass {n} {r.name}: {r.detail}")
        return info

    cold = one_pass(0, traced=False)
    t_warm = time.perf_counter()
    n = 0
    # a traced run alternates untraced and traced passes and ends on an
    # untraced one: each traced pass is compared with the untraced pass
    # after it, which the still-falling warm-up favours, so the warm-up
    # cannot hide tracing cost
    min_passes = 3 if run.traced else 1
    while True:
        n += 1
        passes.append(one_pass(n, traced=run.traced and n % 2 == 0))
        if (n >= min_passes and time.perf_counter() - t_warm >= run.seconds
                and not passes[-1]["traced"]):
            break

    run.stop()
    steal1, load1 = host_sample()
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    warm = [p for p in passes if not p["traced"]]
    lines = [
        f"# workload {run.workload_name} seed {run.seed} "
        f"local[{run.nproc}] trace {int(run.traced)}",
        f"# passes: cold 1, warm {len(passes)}; untraced warm: cpu "
        f"{quartiles([p['cpu_s'] for p in warm])}, wall "
        f"{quartiles([p['seconds'] for p in warm])}",
        f"# setup {setup_s:.3f} s; references {prepare_s:.3f} s",
        f"# host steal_ticks {steal1 - steal0} loadavg {load1:.2f}; "
        f"run wall {time.time() - t_start:.1f} s",
        f"# operations attempted {attempted} failed {failed} "
        f"failed_share {failed / max(1, attempted):.4f}",
    ]
    for p in [cold] + passes:
        ops = " ".join(f"{r.name}={r.seconds:.2f}" for r in p["ops"])
        lines.append(
            f"# pass {p['n']}{' traced' if p['traced'] else ''}: wall "
            f"{p['seconds']:.3f} s, cpu {p['cpu_s']:.2f} s: {ops}")
    lines += [f"# FAILED {f}" for f in failures[:20]]

    if not run.traced:
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in warm),
            "spark_jobs": statistics.median(p["jobs"] for p in warm),
            "driver_rss_mb": rss_mb,
        }
        lines.append(
            "# written_mb per warm pass "
            f"{statistics.median(p.get('written', 0) for p in warm) / MB:.4f}")
        wanted = spec["end_to_end"]
    else:
        values = layer_metrics(run, cold, passes, setup_layers,
                               read_event_log(os.path.join(run.work, "events")),
                               steal1 - steal0, load1)
        wanted = spec["per_layer"]

    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        lines.append(f"{m['name']} {v:.6g} {m['unit']}")
    print("\n".join(lines))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def layer_metrics(run, cold, passes, setup_layers, events, steal,
                  load) -> dict[str, float]:
    """Per-layer figures: the median over traced warm passes of each
    per-pass value, plus the set-up's and host figures."""
    traced = [p for p in passes if p["traced"]]
    per_pass: list[dict[str, float]] = []
    for p in traced:
        v = dict(p["layers"])
        v["processor.steps"] = p["steps"]
        for kind, s in p["step_s"].items():
            v[f"processor.step_s.{kind}"] = s
        v["io.written_mb"] = p.get("written", 0) / MB
        prefix = f"p{p['n']}"
        groups = {g: e for g, e in events.items()
                  if g == prefix or g.startswith(prefix + ":")}
        total: dict[str, float] = {}
        for e in groups.values():
            for k, x in e.items():
                total[k] = total.get(k, 0.0) + x
        for k in ("stages", "tasks", "tasks_failed", "task_s", "task_cpu_s",
                  "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            v[f"spark.{k}"] = total.get(k, 0.0)
        v["spark.jobs"] = total.get("jobs", 0.0)
        v["spark.busy_share"] = total.get("task_s", 0.0) / (
            p["seconds"] * run.nproc)
        v["pyworker.sent_mb"] = total.get("py_sent_mb", 0.0)
        v["pyworker.returned_mb"] = total.get("py_returned_mb", 0.0)
        v["pyworker.rows"] = total.get("py_rows", 0.0)
        v["datasets.load_table_jobs"] = total.get("load_table_jobs", 0.0)
        for r in p["ops"]:
            for phase in ("build", "plan", "exec"):
                if phase in r.phases:
                    s = r.phases[phase]
                    v[f"queries.{phase}_s.{r.name}"] = s
                    v[f"queries.{phase}_s"] = v.get(f"queries.{phase}_s", 0.0) + s
                    jobs = events.get(f"{prefix}:{phase}:{r.name}", {}).get("jobs", 0.0)
                    v[f"queries.{phase}_jobs.{r.name}"] = jobs
                    v[f"queries.{phase}_jobs"] = v.get(f"queries.{phase}_jobs", 0.0) + jobs
        per_pass.append(v)
    keys = set().union(*per_pass)
    out = {k: statistics.median(v.get(k, 0.0) for v in per_pass) for k in keys}

    out["session.build_s"] = setup_layers.get("session.build_s", 0.0)
    out["session.jvm_hwm_mb"] = run.jvm_hwm_mb
    if not out.get("datasets.load_table_calls"):
        # no load_table in the passes: report the set-up's, which
        # registers the inputs
        for k in ("datasets.load_table_calls", "datasets.load_table_s"):
            out[k] = setup_layers.get(k, 0.0)
        out["datasets.load_table_jobs"] = events.get("", {}).get(
            "load_table_jobs", 0.0)
    # the passes' own times, untraced: the cold pass, and the median warm
    # pass's wall time
    out["pass.cold_cpu_s"] = cold["cpu_s"]
    out["pass.cold_wall_s"] = cold["seconds"]
    out["pass.wall_s"] = statistics.median(
        p["seconds"] for p in passes if not p["traced"])
    out["host.steal_ticks"] = steal
    out["host.loadavg"] = load
    out["trace.overhead"] = statistics.median(
        t["cpu_s"] / u["cpu_s"] - 1.0
        for t, u in zip(passes, passes[1:]) if t["traced"])
    return out


if __name__ == "__main__":
    sys.exit(main())
