"""tools/ab_analyze.py verdicts, from synthetic perfbench outputs (no Spark)."""

from __future__ import annotations

import json
import os

from tools import ab_analyze

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

BASE = {"setup_s": 15.0, "pass_cpu_s": 30.0, "spark_jobs": 90.0, "driver_rss_mb": 150.0}


def run_text(metrics: dict, failed: int = 0, attempted: int = 12) -> str:
    """What perfbench/run.py --trace 0 prints: comment lines, one line
    per metric, then the JSON line."""
    lines = [
        "# workload etl_write seed 1 local[4] trace 0",
        "# host steal_ticks 7 loadavg 1.20; run wall 48.0 s",
        f"# operations attempted {attempted} failed {failed} "
        f"failed_share {failed / attempted:.4f}",
    ]
    lines += [f"{k} {v:.6g} u" for k, v in metrics.items()]
    lines.append(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": "u"} for k, v in metrics.items()},
    }))
    return "\n".join(lines) + "\n"


def judge(tmp_path, pairs: int, change=None, parent=None, failed_b: int = 0):
    """Write ``pairs`` pairs of etl_write runs and analyse them.
    ``parent``/``change`` map a metric to a function of the pair number
    giving its value; unnamed metrics read BASE on both sides."""
    tmp_path.mkdir(exist_ok=True)
    for i in range(1, pairs + 1):
        for side, over, failed in (("a", parent or {}, 0), ("b", change or {}, failed_b)):
            metrics = {k: over[k](i) if k in over else v for k, v in BASE.items()}
            (tmp_path / f"etl_write.{side}.{i}.out").write_text(
                run_text(metrics, failed=failed))
    return ab_analyze.analyse(ab_analyze.load(str(tmp_path)), SPEC)["etl_write"]


def verdicts(info) -> dict[str, str]:
    return {k: v["verdict"] for k, v in info["metrics"].items()}


def jitter(base: float):
    return lambda i: base + 0.1 * (i % 3)


def test_gain_needs_ten_pairs_and_nine_tenths_wins(tmp_path):
    info = judge(tmp_path, 10, parent={"pass_cpu_s": jitter(30.0)},
                 change={"pass_cpu_s": jitter(27.0)})
    assert verdicts(info) == {"setup_s": "no regression", "pass_cpu_s": "gain",
                              "spark_jobs": "no regression",
                              "driver_rss_mb": "no regression"}
    assert info["metrics"]["pass_cpu_s"]["wins"] == 10
    assert not info["failed"]["higher"]


def test_too_few_pairs_or_wins_is_no_gain(tmp_path):
    five = judge(tmp_path / "five", 5, parent={"pass_cpu_s": jitter(30.0)},
                 change={"pass_cpu_s": jitter(27.0)})
    assert verdicts(five)["pass_cpu_s"] == "no regression"
    # 8 of 10 pairs won: under nine tenths
    eight = judge(tmp_path / "eight", 10, parent={"pass_cpu_s": jitter(30.0)},
                  change={"pass_cpu_s": lambda i: 31.0 if i <= 2 else 27.0})
    assert eight["metrics"]["pass_cpu_s"]["wins"] == 8
    assert verdicts(eight)["pass_cpu_s"] == "no regression"


def test_regression_past_the_bound(tmp_path):
    # spark_jobs bound is 5%: 90 -> 100 is 11% worse
    info = judge(tmp_path, 3, change={"spark_jobs": lambda i: 100.0,
                                      "driver_rss_mb": lambda i: 160.0})
    v = verdicts(info)
    assert v["spark_jobs"] == "regression"
    # 150 -> 160 MB is 6.7% worse, inside the 10% bound
    assert v["driver_rss_mb"] == "no regression"


def test_spread_wider_than_the_bound_is_unresolved(tmp_path):
    wide = [8.0, 14.0, 20.0, 26.0]  # IQR/median well over the 25% bound
    info = judge(tmp_path / "u", 4, parent={"setup_s": lambda i: wide[i - 1]},
                 change={"setup_s": lambda i: wide[i - 1] + 0.5})
    assert verdicts(info)["setup_s"] == "unresolved"
    # unless every change run reads better than every parent run
    info = judge(tmp_path / "b", 4, parent={"setup_s": lambda i: wide[i - 1]},
                 change={"setup_s": lambda i: 7.0 - 0.1 * i})
    assert verdicts(info)["setup_s"] == "no regression"


def test_higher_failed_share_voids_a_gain(tmp_path):
    info = judge(tmp_path, 10, parent={"pass_cpu_s": jitter(30.0)},
                 change={"pass_cpu_s": jitter(27.0)}, failed_b=1)
    assert info["failed"]["higher"]
    assert info["failed"]["b"] == (10, 120, 10 / 120)
    assert verdicts(info)["pass_cpu_s"] == "no regression"


def test_run_without_result_drops_its_pair_and_report_prints(tmp_path, capsys):
    judge(tmp_path, 3)
    (tmp_path / "etl_write.b.2.out").write_text("# workload etl_write seed 2\n")
    info = ab_analyze.analyse(ab_analyze.load(str(tmp_path)), SPEC)["etl_write"]
    assert info["pairs"] == [1, 3]
    assert info["no_result"] == {"a": [], "b": [2]}
    assert info["steal_ticks"] == {"a": [7, 7], "b": [7, 7]}

    assert ab_analyze.main([str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "etl_write: 2 complete pairs" in out
    assert "side b: no result in pairs [2]" in out
    assert "registry_build: 0 complete pairs" in out
    assert "failed operations: parent 0/24 (0.0000), change 0/24 (0.0000): not higher" in out
