"""The benchmark's own tests: tiny runs of each workload, forced
failures, the traced metric set, and the contract's refusal to run
without the repository.

    python3 -m pytest perfbench/tests -q

Each Spark test starts and stops its own JVM (about half a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench import checks, harness  # noqa: E402
from perfbench.data import RECIPES, trend_grid  # noqa: E402
from perfbench.run import measure  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

#: tiny sizes: interactive_sql always runs at sf 0.001; an 8 × 8 grid
TINY = {"interactive_sql": {}, "trend_map": {"side": 8}}


def _run(tmp_path, workload, trace=False, seconds=1.0, faults=None):
    out = measure(
        workload, 7, seconds, trace, str(tmp_path), sizes=TINY[workload], faults=faults
    )
    return out["result"], out["context"]


def _units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.fixture(scope="module")
def clean_interactive(tmp_path_factory):
    return _run(tmp_path_factory.mktemp("clean"), "interactive_sql", seconds=3.0)[0]


# ------------------------------------------------------------ tiny runs


def test_tiny_interactive_sql_is_correct(clean_interactive):
    res = clean_interactive
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 10 and res["attempted"] % 10 == 0
    assert _units(res) == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_tiny_trend_map_is_correct(tmp_path):
    res, ctx = _run(tmp_path, "trend_map")
    assert res["correct"] and res["failed"] == 0, res
    assert _units(res) == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert ctx["grid_pixels"] == 64


# ------------------------------------------------------- forced failures


def test_forced_raise_counts_as_failed_and_never_shortens_pass(tmp_path, clean_interactive):
    res, _ = _run(
        tmp_path, "interactive_sql", seconds=3.0, faults={"tpch_q1_pricing_summary": "raise"}
    )
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0
    passes = res["attempted"] // 10
    assert res["failed"] == passes
    pass_s = res["metrics"]["pass_s"]["value"]
    assert pass_s >= 3.0  # the failed op is charged the run length
    assert pass_s > clean_interactive["metrics"]["pass_s"]["value"]


def test_forced_wrong_result_counts_as_failed(tmp_path, clean_interactive):
    res, _ = _run(
        tmp_path, "interactive_sql", seconds=3.0, faults={"a1_annual_composite": "wrong"}
    )
    assert not res["correct"]
    assert res["failed"] == res["attempted"] // 10
    assert res["metrics"]["pass_s"]["value"] > clean_interactive["metrics"]["pass_s"]["value"]


# ------------------------------------------------------------ traced run


@pytest.mark.parametrize("workload", ["interactive_sql", "trend_map"])
def test_traced_run_emits_every_per_layer_metric(tmp_path, workload):
    res, ctx = _run(tmp_path, workload, trace=True)
    assert res["correct"], res
    assert _units(res) == PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert ctx["passes"] >= 2
    assert m["spark.jobs"] > 0 and m["spark.tasks"] >= m["spark.stages"] > 0
    assert m["functions.fit_stage_run_ms"] > 0
    assert m["bench.failed_ops_frac"] == 0
    if workload == "trend_map":
        assert m["engine.build_ms"] > 0 and m["tablelog.publish_ms"] > 0
        assert 0 < m["tablelog.files_read_frac"] <= 1
        assert m["functions.udf_python_ms"] > 0
    else:
        assert m["queries.build_ms"] > 0 and m["tables.warm_cache_s"] > 0
        assert all(m[f"queries.{n}.p50_ms"] > 0 for n in bench.HEADLINE)


# --------------------------------------------------------------- contract


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    cmd = SPEC["command"] + ["--workload", "trend_map", "--seed", "1", "--seconds", "1"]
    proc = subprocess.run(
        cmd + ["--trace", "0"], cwd=tmp_path, capture_output=True, text=True, timeout=180
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# ------------------------------------------------------------ unit checks


def test_tail_percentile_is_fixed_by_the_smallest_run():
    pct, value, n = harness.tail(range(1, 31), 30)
    assert (pct, value, n) == (66.7, 20, 30)
    assert harness.tail(range(1, 41), 30) == (66.7, 27, 40)
    assert harness.tail([5.0, 1.0, 3.0, 2.0], 3) == (100.0, 5.0, 4)


def test_polytrend_check_flags_wrong_classes_and_missing_pixels():
    _, truth = trend_grid(3, 8)
    box = (12.0, 51.0, 14.0, 53.0)
    right = truth.assign(
        status=["below_threshold" if r == "unqualified" else "ok" for r in truth.recipe],
        trend_type=[RECIPES[r][1] if RECIPES[r][1] is not None else 0 for r in truth.recipe],
    )
    assert checks.check_polytrend(right.drop(columns="recipe"), truth, box) is None
    wrong = right.assign(trend_type=right.trend_type.where(right.recipe != "cubic", 1))
    assert "cubic" in checks.check_polytrend(wrong.drop(columns="recipe"), truth, box)
    assert checks.check_polytrend(right.iloc[1:].drop(columns="recipe"), truth, box)
    gated = right.assign(status="ok")
    assert "unqualified" in checks.check_polytrend(gated.drop(columns="recipe"), truth, box)


def test_digest_comparison_reports_each_difference():
    ref = [["a", "b"], 3, "123"]
    assert checks.compare_digest(ref, ref) is None
    assert "columns" in checks.compare_digest([["a"], 3, "123"], ref)
    assert "rows" in checks.compare_digest([["a", "b"], 2, "123"], ref)
    assert "digest" in checks.compare_digest([["a", "b"], 3, "9"], ref)
    assert checks.compare_digest(ref, None) == "no reference digest"


def test_allowed_misses_grows_with_the_sample():
    assert checks.allowed_misses(2, 0.99) < 2
    assert 10 < checks.allowed_misses(72, 0.83) < 25
