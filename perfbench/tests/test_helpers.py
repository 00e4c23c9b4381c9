"""Pure helpers: percentile, names, span arithmetic, result comparison."""

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

import correctness
import stats
import tracing

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("values,q,want", [
    ([5, 1, 3, 2, 4], 0.5, 3),
    ([1, 2, 3, 4], 0.5, 2),          # ceil(0.5*4) = 2nd smallest, not 3rd
    (list(range(1, 11)), 0.5, 5),
    (list(range(1, 21)), 0.95, 19),  # not the max
    (list(range(1, 21)), 1.0, 20),
    ([7], 0.9, 7),
    ([], 0.5, 0.0),
])
def test_percentile_is_nearest_rank(values, q, want):
    assert stats.percentile(values, q) == want


@pytest.mark.parametrize("name,ok", [
    ("pass_s", True), ("streaming.add_batch_ms_p50", True), ("9lives", True),
    ("a" * 64, True), ("a" * 65, False), ("_x", False), (".x", False),
    ("has space", False), ("slash/x", False), ("", False),
])
def test_metric_name_pattern(name, ok):
    assert stats.valid_name(name) is ok


def test_sum_of_medians_takes_each_query_median():
    samples = [("a", 1.0), ("b", 10.0), ("a", 3.0), ("b", 30.0), ("a", 2.0), ("b", 20.0)]
    assert stats.medians_by_name(samples) == {"a": 2.0, "b": 20.0}
    assert stats.sum_of_medians(samples) == 22.0
    # One slow execution of a query does not move its median.
    assert stats.sum_of_medians(samples + [("a", 99.0)]) == 22.0
    assert stats.sum_of_medians([]) == 0


def test_geometric_mean_of_medians():
    samples = [("a", 1.0), ("a", 1.0), ("b", 4.0), ("b", 4.0)]
    assert stats.geometric_mean_of_medians(samples) == pytest.approx(2.0)
    assert stats.geometric_mean_of_medians([]) == 0.0


def test_benchmark_json_follows_the_naming_rules():
    with open(os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            assert stats.valid_unit(m["unit"]), m
            names.append(m["name"])
    assert all(stats.valid_name(n) for n in names)
    assert len(names) == len(set(names))


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert tracing.covered([], 0, 1) == 0


def test_self_time_subtracts_children():
    tr = tracing.Tracer("t")
    root = tr.add("root", 0.0, 10.0, None)
    a = tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 6.0, root)
    tr.add("a1", 2.0, 3.0, a)
    assert tr.self_times() == [5.0, 2.0, 3.0, 1.0]


def test_frame_mismatch_ignores_order_and_flags_a_wrong_value():
    got = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0 + 1e-12]})
    assert correctness.frame_mismatch(got, want) is None
    wrong = want.assign(b=[1.0, 2.5])
    assert "b[1]" in correctness.frame_mismatch(got, wrong)
    assert "row counts" in correctness.frame_mismatch(got, want.head(1))


def test_runner_fails_without_the_engine(tmp_path):
    """Alone in a directory (no engine package), the runner exits non-zero
    and prints no result line."""
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", ".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
