"""Tests of the benchmark's own logic: seeded draws and the tail
percentile.  No Spark session is started.

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(BENCH_DIR), BENCH_DIR]

import workloads  # noqa: E402
from run import DATA_DIR, tail, timing_metrics  # noqa: E402


@pytest.fixture(scope="module")
def data_dir():
    return DATA_DIR


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_plan(workload, data_dir):
    assert workloads.draw(workload, 7, data_dir) == workloads.draw(
        workload, 7, data_dir
    )


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_other_seed_other_plan(workload, data_dir):
    plans = {tuple(workloads.draw(workload, s, data_dir)) for s in range(5)}
    assert len(plans) > 1


def test_why_rows_follow_the_seed(data_dir):
    def questions(seed):
        return [
            op
            for op in workloads.draw("provenance_audit", seed, data_dir)
            if op[0] in ("why", "where")
        ]

    assert questions(3) == questions(3)
    assert len({tuple(questions(s)) for s in range(5)}) > 1


def test_draws_keep_the_fixed_core_first(data_dir):
    for seed in range(5):
        prov = workloads.draw("provenance_audit", seed, data_dir)
        assert prov[:3] == [
            ("dtl", workloads.TPCH_SCRIPT),
            ("untraced", workloads.TRACE_SCRIPT),
            ("traced", workloads.TRACE_SCRIPT),
        ]
        pipes = [n for _, n in workloads.draw("pipelines", seed, data_dir)]
        assert pipes[:2] == list(workloads.PIPELINE_CORE)
        assert len(pipes) == len(set(pipes)) == 3


def test_drawn_operations_exist_in_the_catalog(data_dir):
    from python_dtl_spark.catalog import QUERIES

    scripts = workloads.dtl_scripts()
    assert len(workloads.single_statement_scripts()) >= 10
    for seed in range(5):
        for kind, arg in workloads.draw("provenance_audit", seed, data_dir):
            if kind in ("dtl", "untraced", "traced"):
                assert arg in scripts or arg == workloads.TRACE_SCRIPT
        assert workloads.draw("provenance_audit", seed, data_dir)[-1][1] in (
            workloads.single_statement_scripts()
        )
        for kind, arg in workloads.draw("pipelines", seed, data_dir):
            assert QUERIES[arg].oracle is not None


def test_unknown_workload_is_refused(data_dir):
    with pytest.raises(ValueError):
        workloads.draw("nope", 1, data_dir)


def test_tail_percentile():
    # 200 samples: rank 190 has ten samples beyond it
    assert tail(list(range(1, 201)), [15]) == (190, pytest.approx(95.0))
    # fewer than a hundred samples: the costliest operation's median
    assert tail([5, 1, 3], [4, 1]) == (4, 100.0)
    assert tail(list(range(1, 31)), [15, 7]) == (15, 100.0)
    # every operation failed: no samples
    assert tail([], []) == (0.0, 100.0)


def test_timing_metrics_survive_all_failures():
    from ops import Sample

    failed = [Sample(op="query:x", pass_no=p, spanned=False, error="boom") for p in range(3)]
    metrics, info = timing_metrics(failed, [1.0], "cpu_s")
    assert metrics["cold"] == metrics["warm"] == metrics["op_tail"] == 0
    assert info["warm_samples"] == 0
