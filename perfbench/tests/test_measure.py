"""Unit tests for the benchmark's own arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import (  # noqa: E402
    Span,
    Tracer,
    attribute,
    child_coverage,
    median,
    record_calls,
    self_time,
    sum_stages,
    tail_percentile,
    union_length,
)


# -- tail percentile rule ----------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    pct, value, n = tail_percentile(values)
    assert (pct, value, n) == (90.0, 90, 100)
    assert sum(v > value for v in values) == 10


def test_tail_is_order_insensitive_and_counts_samples():
    values = [5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 7.0, 8.0, 6.0, 10.0, 11.0, 12.0]
    pct, value, n = tail_percentile(values)
    assert n == 12
    assert value == 2.0  # rank 1 of 12: exactly ten samples above it
    assert pct == pytest.approx(100 * 2 / 12)


def test_tail_with_too_few_samples_falls_back_to_median():
    assert tail_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0, 3)
    assert tail_percentile([1.0] * 10) == (50.0, 1.0, 10)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


# -- span self time ----------------------------------------------------------


def _span(sid, parent, t0, t1, name="x"):
    return Span(sid, parent, name, "l", t0, t1)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0


def test_self_time_subtracts_covered_child_time_once():
    op = _span(0, None, 0.0, 10.0)
    spans = [
        op,
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps its sibling: counted once
        _span(3, 1, 1.5, 2.0),  # grandchild: already inside child 1
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped
    ]
    assert self_time(op, spans) == pytest.approx(10.0 - 4.0 - 1.0)
    assert child_coverage(op, spans) == pytest.approx(0.5)
    assert self_time(spans[1], spans) == pytest.approx(3.0 - 0.5)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = Tracer(True)
    with tr.span("op", "op"):
        with tr.span("build", "plans"):
            pass
        with tr.span("action", "spark"):
            pass
    op, build, action = tr.spans
    assert (op.parent, build.parent, action.parent) == (None, 0, 0)
    assert [s.sid for s in tr.children(0)] == [1, 2]
    assert op.t0 <= build.t0 <= build.t1 <= action.t0 <= action.t1 <= op.t1
    off = Tracer(False)
    with off.span("op", "op") as s:
        assert s is None
    assert off.spans == []


# -- REST stage-delta attribution --------------------------------------------


def test_stages_go_to_the_innermost_span_holding_their_end():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 0.0, 4.0, "build"),
        _span(2, 0, 4.0, 9.0, "action"),
    ]
    stages = [{"id": 1, "t_end": 2.0}, {"id": 2, "t_end": 6.0},
              {"id": 3, "t_end": 9.5}, {"id": 4, "t_end": 11.0}]
    owner = attribute(stages, spans)
    assert [s["id"] for s in owner[1]] == [1]
    assert [s["id"] for s in owner[2]] == [2]
    assert [s["id"] for s in owner[0]] == [3]  # between children: the op itself
    assert [s["id"] for s in owner[-1]] == [4]  # outside every span


def test_sum_stages_scales_rest_units():
    stages = [
        {"executorRunTime": 1500, "executorCpuTime": 2_000_000_000, "jvmGcTime": 100,
         "numCompleteTasks": 4, "inputRecords": 10, "shuffleReadBytes": 7,
         "memoryBytesSpilled": 1, "diskBytesSpilled": 2},
        {"executorRunTime": 500, "numCompleteTasks": 2, "numFailedTasks": 1},
    ]
    s = sum_stages(stages)
    assert s["run_s"] == pytest.approx(2.0)
    assert s["cpu_s"] == pytest.approx(2.0)
    assert s["gc_s"] == pytest.approx(0.1)
    assert (s["tasks"], s["failed_tasks"], s["stages"]) == (6, 1, 2)
    assert (s["scan_rows"], s["shuffle_read_bytes"], s["spill_bytes"]) == (10, 7, 3)


def test_record_calls_binds_arguments_and_restores_the_function():
    def pairs(docs, id_col="doc_id", *, threshold=0.5):
        return (docs, id_col, threshold)

    mod = types.SimpleNamespace(pairs=pairs)
    calls = []
    with record_calls(mod, "pairs", calls):
        assert mod.pairs("d", threshold=0.7) == ("d", "doc_id", 0.7)
    assert calls == [{"docs": "d", "id_col": "doc_id", "threshold": 0.7}]
    assert mod.pairs is pairs
