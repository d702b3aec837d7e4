"""Tests of the benchmark itself: its workloads, its metric names, its
seeded key order, its oracle compare, and the full materialization of
the timed action.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import run  # noqa: E402
from layers import pass_layers  # noqa: E402
from oracle import mismatch  # noqa: E402
from workloads import (STANDING_FAILURES, WORKLOADS, pass_orders,  # noqa: E402
                       timed_passes)

from quickbooks_aws_etl_pipeline_spark.plans import ORACLE, QUERIES  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_workload_key_has_a_query_and_an_oracle():
    for name, w in WORKLOADS.items():
        assert w["keys"], name
        assert len(set(w["keys"])) == len(w["keys"]), name
        for key in w["keys"]:
            assert key in QUERIES, (name, key)
            assert key in ORACLE, (name, key)
    for key in STANDING_FAILURES:
        assert any(key in w["keys"] for w in WORKLOADS.values()), key


def test_workloads_match_benchmark_json():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]]["why"]


def test_printed_metric_names_and_units_match_benchmark_json():
    bench = _benchmark_json()
    assert run.END_TO_END_UNITS == {m["name"]: m["unit"]
                                    for m in bench["end_to_end"]}
    assert run.PER_LAYER_UNITS == {m["name"]: m["unit"]
                                   for m in bench["per_layer"]}
    stages = {"jobs": 1, "stages": 1, "run_ms": 10, "cpu_ns": 5e6,
              "gc_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
              "spill_bytes": 0, "output_bytes": 0, "tasks": 4,
              "failed_tasks": 0}
    row = {"pass": 1, "key": "k", "io_calls": 1, "io_s": 0.1,
           "io_file_bytes": 100, "sinks_calls": 0, "sinks_s": 0.0,
           "sinks_files": 0, "batch_ms": [], "streaming_input_rows": 0,
           "build_s": 0.2, "action_s": 0.3, "catalyst_analysis_s": 0.01,
           "catalyst_optimization_s": 0.01, "catalyst_planning_s": 0.01,
           **{p: dict(stages) for p in ("plans", "io", "sinks", "exec")}}
    layers = pass_layers([row], session_s=5.0)
    run_level = {"session.peak_rss_mb", "trace.overhead_p50_s"}
    assert set(layers) | run_level == set(run.PER_LAYER_UNITS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_seed_changes_only_the_key_order(workload):
    keys = sorted(WORKLOADS[workload]["keys"])
    orders = {}
    for seed in range(1, 6):
        gen = pass_orders(workload, seed)
        passes = [next(gen) for _ in range(4)]
        assert all(sorted(p) == keys for p in passes)
        again = pass_orders(workload, seed)
        assert [next(again) for _ in range(4)] == passes
        orders[seed] = passes
    assert len({tuple(map(tuple, p)) for p in orders.values()}) > 1


def test_timed_work_is_fixed_per_workload_and_seconds():
    for workload, w in WORKLOADS.items():
        assert timed_passes(workload, w["pass_s"]) == 1
        assert timed_passes(workload, 2 * w["pass_s"]) == 2
        assert timed_passes(workload, 0.1) == 1


def test_p90_is_an_observed_latency():
    assert run.nearest_rank([5.0, 1.0], 90) == 5.0
    assert run.nearest_rank([float(i) for i in range(1, 11)], 90) == 9.0
    assert run.nearest_rank([0.3, 0.4, 0.5, 0.6, 0.8, 1.4, 4.9], 90) == 4.9


def test_mismatch_ignores_row_order_and_catches_value_changes():
    want = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0], "n": [1, 2]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert mismatch(got, want) is None
    assert mismatch(got.assign(v=[2.0, 1.0 + 1e-12]), want) is None
    assert "v" in mismatch(got.assign(v=[2.0, 1.001]), want)
    assert "row count" in mismatch(want.head(1), want)
    assert "columns" in mismatch(want.rename(columns={"n": "m"}), want)


def test_benchmark_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _benchmark_json()["command"] + [
        "--workload", "etl_refresh", "--seed", "1", "--seconds", "1",
        "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    from quickbooks_aws_etl_pipeline_spark.session import get_spark
    s = get_spark("perfbench-test", master="local[2]",
                  extra_conf={"spark.ui.enabled": "false"})
    yield s
    s.stop()


def _last_executed_plan(spark) -> str:
    """Physical plan of the most recent SQL execution."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last = max((execs.apply(i) for i in range(execs.length())),
               key=lambda e: e.executionId())
    return last.physicalPlanDescription()


@pytest.mark.parametrize("key, marker, min_count", [
    ("window_partition_sum", "Window (", 1),
    ("agg_group_sum", "partial_sum(cast(", 3),
])
def test_timed_action_computes_every_output_column(spark, key, marker,
                                                   min_count):
    """The timed action must execute the full plan. ``count()`` would
    let Catalyst prune the Window and the exact-decimal sums."""
    df = QUERIES[key](spark, SF_SMOKE)
    result = run.materialize(df)
    assert list(result.columns) == df.columns
    assert _last_executed_plan(spark).count(marker) >= min_count

    QUERIES[key](spark, SF_SMOKE).count()
    assert marker not in _last_executed_plan(spark)
