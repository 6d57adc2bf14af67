"""Arithmetic of the benchmark on synthetic spans; no Spark needed.

Run with:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import pytest

from perfbench.metrics import (
    JOB_COUNTERS,
    QueryTrace,
    Span,
    attribute,
    core_util,
    empty_batch_ratio,
    layer_record,
    median_with_count,
    rollup,
    self_times,
    union_length,
)


def job(start: float, end: float, **counters: float) -> Span:
    attrs = {"stages": 1, "tasks": 4, **dict.fromkeys(JOB_COUNTERS, 0.0), **counters}
    return Span("operators.job", start, end, None, attrs)


def batch(start: float, end: float, rows: int, qid: str = "q", state_rows: int = 0) -> Span:
    attrs = {
        "id": qid,
        "input_rows": rows,
        "durations_ms": {"triggerExecution": (end - start) * 1000, "addBatch": 5},
        "state_rows": state_rows,
        "state_mem_bytes": 100,
        "state_commit_ms": 2,
    }
    return Span("streaming.batch", start, end, None, attrs)


def test_union_length_merges_overlaps_and_nesting():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1)]) == 2
    assert union_length([(0, 1), (1, 2)]) == 2


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        Span("root", 0, 10),
        Span("a", 1, 4, 0),
        Span("b", 3, 6, 0),  # overlaps a: the overlap is not subtracted twice
        Span("c", 9, 12, 0),  # outlives its parent: only 9..10 counts
        Span("leaf", 1, 2, 1),
    ]
    assert self_times(spans) == [10 - 6, 3 - 1, 3, 3, 1]


def test_attribute_by_window_with_inclusive_bounds():
    windows = [(0.0, 1.0), (2.0, 3.0)]
    assert attribute([0.0, 0.5, 1.0, 1.5, 2.0, 3.5], windows) == [0, 0, 0, None, 1, None]


def test_median_with_count():
    assert median_with_count([3.0, 1.0, 2.0]) == (2.0, 3)
    assert median_with_count([1.0, 4.0]) == (2.5, 2)
    with pytest.raises(ValueError):
        median_with_count([])


def test_core_util():
    assert core_util(run_s=8.0, job_s=2.0, cores=4) == 1.0
    assert core_util(run_s=2.0, job_s=2.0, cores=4) == 0.25
    assert core_util(run_s=1.0, job_s=0.0, cores=4) == 0.0


def test_empty_batch_ratio():
    assert empty_batch_ratio([]) == 0.0
    assert empty_batch_ratio([10, 0, 5, 0]) == 0.5
    assert empty_batch_ratio([0]) == 1.0


def test_jobs_go_to_the_call_or_batch_they_were_submitted_in():
    qt = QueryTrace(
        "q",
        build=(0.0, 4.0),
        write=(4.0, 6.0),
        jobs=[job(0.5, 1.0), job(2.1, 2.5), job(4.5, 5.5), job(7.0, 7.5)],
        batches=[batch(2.0, 3.0, rows=10)],
    )
    spans = qt.spans()
    names = [s.name for s in spans]
    assert names == [
        "query",
        "plans.build",
        "session.write",
        "streaming.batch",
        "operators.job",
        "operators.job",
        "operators.job",
    ]
    parents = [spans[s.parent].name for s in spans if s.name == "operators.job"]
    assert parents == ["plans.build", "streaming.batch", "session.write"]


def test_breakdown_adds_up_to_wall_time():
    qt = QueryTrace(
        "q",
        build=(0.0, 4.0),
        write=(4.0, 6.0),
        jobs=[job(0.5, 1.0), job(2.1, 2.5), job(4.5, 5.5)],
        batches=[batch(2.0, 3.0, rows=10)],
    )
    bd = qt.breakdown()
    assert bd["wall_s"] == 6.0
    assert bd["build_s"] == 4.0
    assert bd["build_self_s"] == pytest.approx(4.0 - 0.5 - 1.0)  # minus job and batch
    assert bd["batch_self_s"] == pytest.approx(1.0 - 0.4)
    assert bd["gap_s"] == pytest.approx(2.0 - 1.0)
    assert bd["job_s"] == pytest.approx(0.5 + 0.4 + 1.0)
    assert bd["residual_s"] == pytest.approx(0.0)


def test_layer_record_counts_and_unattributed_jobs():
    qt = QueryTrace(
        "q",
        build=(0.0, 4.0),
        write=(4.0, 6.0),
        jobs=[
            job(0.5, 1.0, run_s=1.6, cpu_s=1.2, shuffle_write_bytes=100),
            job(4.5, 5.5, run_s=2.4, input_rows=50),
            job(9.0, 9.5, run_s=100.0),  # after the query: not attributed
        ],
        batches=[batch(2.0, 3.0, 10, "a", 7), batch(3.0, 3.5, 0, "a", 9), batch(3.5, 3.9, 0, "b", 1)],
    )
    rec = layer_record(qt, cores=4)
    assert rec["operators.jobs"] == 2
    assert rec["trace.unattributed_jobs"] == 1
    assert rec["plans.build_jobs"] == 1
    assert rec["operators.run_s"] == pytest.approx(4.0)
    assert rec["operators.core_util"] == pytest.approx(4.0 / (1.5 * 4))
    assert rec["shuffle.write_bytes"] == 100
    assert rec["sources.input_rows"] == 50
    assert rec["streaming.queries"] == 2
    assert rec["streaming.batches"] == 3
    assert rec["streaming.empty_batch_ratio"] == pytest.approx(2 / 3)
    assert rec["streaming.state_rows"] == 9 + 1  # last batch of each query
    assert rec["streaming.add_batch_ms"] == 15


def test_rollup_sums_counts_takes_peaks_and_recomputes_ratios():
    a = {"operators.run_s": 4.0, "operators.job_s": 1.0, "operators.core_util": 1.0,
         "streaming.batches": 4, "streaming.empty_batches": 1,
         "streaming.empty_batch_ratio": 0.25, "plans.pinned_bytes": 10,
         "streaming.state_mem_bytes": 5, "name": "a"}
    b = {"operators.run_s": 0.0, "operators.job_s": 1.0, "operators.core_util": 0.0,
         "streaming.batches": 0, "streaming.empty_batches": 0,
         "streaming.empty_batch_ratio": 0.0, "plans.pinned_bytes": 30,
         "streaming.state_mem_bytes": 2, "name": "b"}
    tot = rollup([a, b], cores=4)
    assert tot["operators.run_s"] == 4.0
    assert tot["operators.core_util"] == pytest.approx(4.0 / (2.0 * 4))
    assert tot["streaming.empty_batch_ratio"] == pytest.approx(0.25)
    assert tot["plans.pinned_bytes"] == 30
    assert tot["streaming.state_mem_bytes"] == 5
    assert "name" not in tot
    assert not any(isinstance(v, float) and math.isnan(v) for v in tot.values())
