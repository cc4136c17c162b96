"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py      # ~2 min: builds, then one smoke run
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import oracle  # noqa: E402
import run  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_oracle_rows_match_in_any_order_within_double_tolerance():
    got = [("a", 1.0000000001, 3), ("b", None, 4)]
    want = [("b", None, 4), ("a", 1.0, 3)]
    assert oracle.compare_rows(got, want) is None


def test_oracle_reports_a_changed_value_and_a_missing_row():
    assert "row" in oracle.compare_rows([("a", 1.5)], [("a", 1.0)])
    assert "rows vs" in oracle.compare_rows([("a", 1.0)], [("a", 1.0), ("b", 2.0)])


def test_oracle_compares_nested_values():
    got = [({"name": "x", "nk": 1}, [1, 2])]
    assert oracle.compare_rows(got, [({"name": "x", "nk": 1}, [1, 2])]) is None
    assert oracle.compare_rows(got, [({"name": "x", "nk": 2}, [1, 2])]) is not None


def test_a_temp_dir_the_engine_left_behind_fails_the_run(tmp_path):
    res = {"attempted": 5, "failures": []}
    (tmp_path / "tmp" / "spark-1234").mkdir(parents=True)
    clean = run.judge(res, [], run.leftover_temp(tmp_path), [])
    assert clean["correct"] and clean["attempted"] == 7 and clean["failed"] == 0
    (tmp_path / "tmp" / "graft-q43123").mkdir()
    leaked = run.judge(res, [], run.leftover_temp(tmp_path), [])
    assert not leaked["correct"] and leaked["failed"] == 1
    assert "graft-q43123" in leaked["failures"][0]


def test_fails_without_the_program_sources(tmp_path):
    """A tree holding only BENCHMARK.json and the benchmark must not print a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    assert res.returncode != 0
    assert res.stdout.strip() == ""


def test_smoke_run_reports_every_metric_with_all_checks_passing():
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = subprocess.run([sys.executable, "perfbench/run.py", "--smoke", "--seed", "7",
                              "--trace", str(trace)],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        assert res.returncode == 0
        out = json.loads(res.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
        assert list(out["metrics"]) == [m["name"] for m in SPEC[key]]
        for m in SPEC[key]:
            assert out["metrics"][m["name"]]["unit"] == m["unit"]
        if trace == 0:
            assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not (ROOT / ".bench_run").exists()
