"""Tests of the benchmark's event-log parser, span self times and op
accounting, on a small recorded Spark event log (data/small_eventlog.json:
two job groups -- op-1 runs an Arrow/Python stage under span 7, op-2 a
plain shuffle -- trimmed to the fields the parser reads).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog, layers  # noqa: E402
from perfbench.run import tail, typical  # noqa: E402
from perfbench.spans import self_times  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.json")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_keyed_by_group_and_span(log):
    assert [j.job_id for j in log.jobs_of("op-1")] == [0, 1]
    assert [j.job_id for j in log.jobs_of("op-2")] == [2, 3, 4]
    assert {j.span for j in log.jobs_of("op-1")} == {"7"}
    assert {j.span for j in log.jobs_of("op-2")} == {None}
    assert all(j.succeeded for j in log.jobs.values())


def test_group_totals(log):
    one, two = log.totals["op-1"], log.totals["op-2"]
    # skipped stage 1 of job 1 never completes and runs no tasks
    assert (one.jobs, one.stages, one.tasks) == (2, 2, 3)
    assert (two.jobs, two.stages, two.tasks) == (3, 3, 6)
    assert one.executor_run_ms == 2104 + 2133 + 70
    assert one.gc_ms == 50
    assert one.shuffle_write_bytes == one.shuffle_read_bytes == 142
    assert two.shuffle_write_bytes == 6529
    assert one.arrow_to_python_bytes == 18016
    assert one.arrow_from_python_bytes == 20096
    assert one.python_eval_ms == 5202
    assert two.arrow_to_python_bytes == 0
    assert one.spill_bytes == two.spill_bytes == 0


def test_task_skew_uses_longest_stage(log):
    assert log.task_skew("op-1") == pytest.approx(2133 / ((2104 + 2133) / 2))
    assert log.task_skew("op-2") == pytest.approx(52 / 47.5)
    assert log.task_skew("missing") is None


def test_union_ms():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog.union_ms([(20, 30), (0, 40)]) == 40


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def _op_spans(log, inner_start_pad: float):
    jobs = log.jobs_of("op-1")
    start = (jobs[0].start_ms - 100) / 1000.0
    end = (jobs[-1].end_ms + 200) / 1000.0
    spans = [
        {"id": 6, "name": "op.x", "layer": "op", "parent": None, "op": "op-1",
         "start": start, "end": end},
        {"id": 7, "name": "images.decode_codec_meta", "layer": "sources", "parent": 6,
         "op": "op-1", "start": start + inner_start_pad, "end": end - 0.1},
    ]
    op = {"group": "op-1", "start": start, "end": end, "seconds": end - start}
    return jobs, spans, op


def test_op_breakdown_accounts_for_wall(log):
    jobs, spans, op = _op_spans(log, 0.05)
    b = layers.op_breakdown(log, spans, self_times(spans), op)
    busy = sum(j.end_ms - j.start_ms for j in jobs) / 1000.0
    assert b["span_job_s"] == {7: pytest.approx(busy)}
    assert b["driver_gap_s"] == pytest.approx(op["seconds"] - busy)
    assert b["accounted_ratio"] == pytest.approx(1.0)


def test_op_breakdown_flags_jobs_outside_their_span(log):
    # the span opens 0.3 s after its first job started: that job time is
    # on the Spark side but on neither span's Python side
    jobs, spans, op = _op_spans(log, 0.3)
    b = layers.op_breakdown(log, spans, self_times(spans), op)
    assert b["accounted_ratio"] == pytest.approx(1.0 + 0.2 / op["seconds"])


@pytest.mark.parametrize("n,pct", [(5, 50), (10, 50), (20, 50), (40, 75), (100, 90)])
def test_tail_percentile_keeps_ten_ops_beyond(n, pct):
    times = [float(i) for i in range(n)]
    p, value = tail(times)
    assert p == pct
    assert sum(t > value for t in times) >= min(10, n // 2)


def test_typical_op_is_geometric_mean_of_kind_medians():
    ops = [{"kind": k, "cpu_s": v} for k, v in
           [("a", 1.0), ("a", 9.0), ("a", 2.0), ("b", 8.0), ("b", 8.0)]]
    assert typical(ops, "cpu_s") == pytest.approx(4.0)  # sqrt(2 * 8)
    assert typical(ops[:3], "cpu_s") == pytest.approx(2.0)  # one kind: the median
