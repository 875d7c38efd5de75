"""Judge an interleaved A/B of the benchmark made by tools/ab_interleave.sh.

    python3 tools/ab_analyze.py OUT_DIR

Tree A is the parent and tree B the change.  For each workload and each
end-to-end metric of this checkout's BENCHMARK.json it prints both
medians, the parent's interquartile range (IQR), how many pairs the
change won and a verdict; then each side's failed operations and host
steal ticks.  The protocol and the verdict rules are in README.md,
"Measuring a change".
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_NAME = re.compile(r"(?P<workload>.+)\.(?P<side>[ab])\.(?P<pair>\d+)\.out$")
#: a gain needs this share of pairs won, over at least this many pairs
GAIN_SHARE = 0.9
GAIN_MIN_PAIRS = 10


def parse_run(text: str) -> dict | None:
    """The JSON result line of one ``perfbench/run.py`` stdout, plus its
    host steal ticks; None when the run printed no result."""
    result, steal = None, None
    for line in text.splitlines():
        if line.startswith("{"):
            result = json.loads(line)
        elif line.startswith("# host steal_ticks "):
            steal = int(line.split()[3])
    if result is not None:
        result["steal_ticks"] = steal
    return result


def load(out_dir: str) -> dict[str, dict[str, dict[int, dict | None]]]:
    """``{workload: {"a"|"b": {pair: run or None}}}`` from OUT_DIR."""
    runs: dict = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.out"))):
        m = RUN_NAME.match(os.path.basename(path))
        if m:
            with open(path) as f:
                sides = runs.setdefault(m["workload"], {"a": {}, "b": {}})
                sides[m["side"]][int(m["pair"])] = parse_run(f.read())
    return runs


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return q[2] - q[0]


def _relative(delta: float, base: float) -> float:
    if base:
        return delta / abs(base)
    return 0.0 if delta == 0 else math.copysign(math.inf, delta)


def verdict(parent: list[float], change: list[float], better: str,
            bound: float, failed_rose: bool = False) -> dict:
    """Judge one metric on one workload by the rules in README.md;
    ``parent[i]`` and ``change[i]`` are the two runs of pair i, and
    ``bound`` is a fraction of the parent's median."""
    sign = 1.0 if better == "lower" else -1.0
    n = len(parent)
    mp, mc = statistics.median(parent), statistics.median(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    spread = max(_relative(iqr(parent), mp), _relative(iqr(change), mc))
    all_better = max(sign * c for c in change) < min(sign * p for p in parent)
    if (n >= GAIN_MIN_PAIRS and wins >= GAIN_SHARE * n
            and sign * (mp - mc) > iqr(parent) and not failed_rose):
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif _relative(sign * (mc - mp), mp) > bound:
        v = "regression"
    else:
        v = "no regression"
    return {"pairs": n, "parent": mp, "change": mc, "parent_iqr": iqr(parent),
            "wins": wins, "verdict": v}


def analyse(runs: dict, spec: dict) -> dict[str, dict]:
    """Per workload of ``spec``: the complete pairs, the pairs in which
    a side printed no result, each side's (failed, attempted, share)
    over the complete pairs, and a verdict per end-to-end metric."""
    out = {}
    for workload in [w["name"] for w in spec["workloads"]]:
        sides = runs.get(workload, {"a": {}, "b": {}})
        pairs = sorted(p for p, r in sides["a"].items() if r and sides["b"].get(p))
        side_runs = {s: [sides[s][p] for p in pairs] for s in "ab"}
        failed = {}
        for s, rs in side_runs.items():
            f, a = sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)
            failed[s] = (f, a, f / max(1, a))
        rose = failed["b"][2] > failed["a"][2]
        metrics = {}
        for m in spec["end_to_end"] if pairs else []:
            a, b = ([r["metrics"][m["name"]]["value"] for r in side_runs[s]] for s in "ab")
            metrics[m["name"]] = verdict(a, b, m["better"], m["bound"], failed_rose=rose)
        out[workload] = {
            "pairs": pairs,
            "no_result": {s: sorted(p for p, r in sides[s].items() if r is None)
                          for s in "ab"},
            "failed": {**failed, "higher": rose},
            "steal_ticks": {s: [r["steal_ticks"] for r in rs]
                            for s, rs in side_runs.items()},
            "metrics": metrics,
        }
    return out


def report(result: dict, spec: dict) -> str:
    units = {m["name"]: m for m in spec["end_to_end"]}
    lines = []
    for workload, info in result.items():
        lines.append(f"{workload}: {len(info['pairs'])} complete pairs {info['pairs']}")
        lines += [f"  side {s}: no result in pairs {info['no_result'][s]}"
                  for s in "ab" if info["no_result"][s]]
        lines.append(f"  {'metric':<14} {'unit':<6} {'parent':>10} {'change':>10} "
                     f"{'parent IQR':>10} {'wins':>6} {'bound':>6}  verdict")
        for name, v in info["metrics"].items():
            lines.append(
                f"  {name:<14} {units[name]['unit']:<6} {v['parent']:>10.3f} "
                f"{v['change']:>10.3f} {v['parent_iqr']:>10.3f} "
                f"{v['wins']:>3}/{v['pairs']:<2} {units[name]['bound']:>6.0%}  {v['verdict']}")
        (fa, na, sa), (fb, nb, sb) = info["failed"]["a"], info["failed"]["b"]
        lines.append(
            f"  failed operations: parent {fa}/{na} ({sa:.4f}), change {fb}/{nb} "
            f"({sb:.4f}): {'higher' if info['failed']['higher'] else 'not higher'}")
        lines.append(f"  host steal_ticks per run: parent {info['steal_ticks']['a']}, "
                     f"change {info['steal_ticks']['b']}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    print(report(analyse(load(argv[0]), spec), spec))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
