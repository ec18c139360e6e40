"""scripts/ab.py without Spark: the verdict rules on synthetic samples,
the parser on a canned perfbench/run.py output, and a pair left out
when one of its runs fails."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import sys

import pytest

_SCRIPT = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "ab.py"
_spec = importlib.util.spec_from_file_location("ab_script", _SCRIPT)
ab = sys.modules["ab_script"] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BASE = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]


def _v(base, head, better="lower", bound=0.25):
    return ab.verdict(base, head, better, bound)


def test_nine_of_ten_wins_past_the_iqr_is_a_gain():
    head = [b - 1.0 for b in BASE[:9]] + [BASE[9] + 1.0]
    v = _v(BASE, head)
    assert (v["wins"], v["verdict"]) == (9, "gain")
    assert v["ratio"] < 1


def test_eight_of_ten_wins_is_flat():
    head = [b - 1.0 for b in BASE[:8]] + [b + 1.0 for b in BASE[8:]]
    v = _v(BASE, head)
    assert (v["wins"], v["verdict"]) == (8, "flat")


def test_ties_count_for_neither_side():
    head = [b - 1.0 for b in BASE[:8]] + BASE[8:]
    v = _v(BASE, head)
    assert (v["wins"], v["verdict"]) == (8, "flat")
    same = _v(BASE, list(BASE))
    assert (same["wins"], same["ratio"], same["verdict"]) == (0, 1.0, "flat")


def test_median_gap_below_the_base_iqr_is_flat():
    head = [b - 0.05 for b in BASE]  # every pair won, by less than the IQR
    v = _v(BASE, head)
    assert v["wins"] == 10 and 0 < v["base_median"] - v["head_median"] < v["base_iqr"]
    assert v["verdict"] == "flat"


def test_regression_past_the_bound():
    assert _v(BASE, [b * 1.3 for b in BASE])["verdict"] == "regression"
    assert _v(BASE, [b * 1.2 for b in BASE])["verdict"] == "flat"
    # "higher is better": a 30 % drop regresses
    assert _v(BASE, [b * 0.7 for b in BASE], better="higher")["verdict"] == "regression"


def test_spread_wider_than_the_bound_is_unresolved():
    wide = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
    assert _v(wide, [x - 2.0 for x in wide])["verdict"] == "unresolved"
    assert _v(wide, list(reversed(wide)))["verdict"] == "unresolved"
    # every head run below every base run: a gain despite the spread
    assert _v([x + 20 for x in wide], wide)["verdict"] == "gain"


def test_too_few_pairs_is_unresolved_and_no_bound_uses_the_win_rule():
    assert _v(BASE[:2], [b - 1 for b in BASE[:2]])["verdict"] == "unresolved"
    jobs = [165.0] * 10
    assert _v(jobs, [166.0] * 10, bound=None)["verdict"] == "regression"
    assert _v(jobs, [164.0] * 10, bound=None)["verdict"] == "gain"
    assert _v(jobs, list(jobs), bound=None)["verdict"] == "flat"


def _stdout(pass_s=5.7, correct=True, build_jobs=3):
    result = {
        "correct": correct,
        "attempted": 36,
        "failed": 0 if correct else 1,
        "metrics": {
            "setup_s": {"value": 21.2, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "op_geomean_s": {"value": 0.35, "unit": "s"},
        },
    }
    return "\n".join([
        "perfbench hive_write seed=1 trace=0 cores=4 load1=0.10 other_jvms=0",
        "passes: warm + 2 untraced + 0 traced, 12 ops/pass; timings are medians over the passes",
        "pass walls: warm=13.100, 0=5.800, 1=5.600",
        "statusTracker per pass: spark.jobs=35, spark.stages=35, spark.tasks=120, spark.failed_tasks=0",
        "error_rate 0.0000 (0 of 36 ops)",
        f"op write_lineitem_orc: wall 0.812 s, build 0.812 s, {build_jobs}+0 jobs (median of 2)",
        "op verify_events_table: wall 0.301 s, build 0.101 s, 2+3 jobs (median of 2)",
        "setup_s 21.2 s",
        f"pass_s {pass_s} s",
        "op_geomean_s 0.35 s",
        json.dumps(result),
    ]) + "\n"


def test_parse_reads_the_result_line_and_the_op_lines():
    result, ops = ab.parse(_stdout())
    assert result["correct"] is True and result["metrics"]["pass_s"]["value"] == 5.7
    assert ops == {
        "write_lineitem_orc": (0.812, 0.812, 3, 0),
        "verify_events_table": (0.301, 0.101, 2, 3),
    }
    assert ab.parse("perfbench: no cascading_hive_spark package\n")[0] is None
    assert ab.parse("") == (None, {})


SPEC = {
    "pass_s": {"name": "pass_s", "better": "lower", "bound": 0.25},
    "op_geomean_s": {"name": "op_geomean_s", "better": "lower", "bound": 0.25},
    "setup_s": {"name": "setup_s", "better": "lower", "bound": 0.25},
    "io.files_written": {"name": "io.files_written", "better": "lower"},
}


def test_a_failing_run_drops_its_pair(monkeypatch):
    outputs = {
        ("base", 1): (0, _stdout(5.0)),
        ("head", 1): (0, _stdout(5.1, build_jobs=4)),
        ("base", 2): (0, _stdout(6.0)),
        ("head", 2): (1, "Traceback ...\n"),
        ("base", 3): (0, _stdout(7.0)),
        ("head", 3): (0, _stdout(7.0, correct=False)),
        ("base", 4): (0, _stdout(8.0)),
        ("head", 4): (0, _stdout(8.2, build_jobs=4)),
    }
    calls = []

    def fake(root, argv):
        seed = int(argv[argv.index("--seed") + 1])
        calls.append((root, seed))
        code, out = outputs[(root, seed)]
        return code, out, "" if code == 0 else "boom\n"

    monkeypatch.setattr(ab, "run_perfbench", fake)
    runs = ab.run_pairs({"base": "base", "head": "head"}, ["python3", "perfbench/run.py"],
                        "hive_write", 10, False, 4)
    # one process at a time, and the side that goes first alternates by pair
    assert calls == [("base", 1), ("head", 1), ("head", 2), ("base", 2),
                     ("base", 3), ("head", 3), ("head", 4), ("base", 4)]
    s = ab.summarize(runs, SPEC)
    assert s["valid_pairs"] == 2
    assert [(f["side"], f["seed"], f["code"]) for f in s["failed_runs"]] == [
        ("head", 2, 1), ("head", 3, 0)]
    assert s["failed_runs"][0]["stderr"] == "boom"
    assert s["metrics"]["pass_s"]["base_median"] == pytest.approx(6.5)
    assert s["metrics"]["pass_s"]["head_median"] == pytest.approx(6.65)
    assert s["metrics"]["pass_s"]["verdict"] == "unresolved"  # 2 pairs
    assert "io.files_written" not in s["metrics"]  # not reported by these runs
    op = s["ops"]["write_lineitem_orc"]
    assert (op["base_build_jobs"], op["head_build_jobs"]) == (3, 4)
    assert s["ops"]["verify_events_table"]["head_action_jobs"] == 3
    lines = ab.table(s).splitlines()
    assert any(line.startswith("pass_s") and line.endswith("unresolved") for line in lines)
    assert any("3+0" in line and "4+0" in line for line in lines)
    assert "FAILED head seed=2 exit=1: boom" in lines
