"""The event-log parser and the span arithmetic, without Spark, on the
small event log in ``data/``.

Spans: 0 "outer" [100, 110] with children 1 "inner" [102, 106] and
2 "sibling" [107, 108]. Job 0 is tagged span 0, job 1 span 1, job 2 is
untagged and submitted at 104, inside span 1."""

import os

import pytest

import eventlog
from spans import Span, Tracer, self_times, union_length

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _spans():
    return [
        Span(0, "outer", 100.0, 110.0, None, 1, 1),
        Span(1, "inner", 102.0, 106.0, 0, 1, 1),
        Span(2, "sibling", 107.0, 108.0, 0, 1, 1),
    ]


def test_jobs_and_task_totals():
    jobs = eventlog.read(LOG)
    assert sorted(jobs) == [0, 1, 2]
    j0, j1, j2 = jobs[0], jobs[1], jobs[2]
    assert (j0.span, j1.span, j2.span) == (0, 1, None)
    assert j1.group == "erp/customer"
    assert (j0.submit, j0.end) == (100.5, 101.5)
    assert (j0.tasks, j1.tasks, j2.tasks) == (2, 2, 1)
    assert j0.executor_run_s == pytest.approx(0.8)
    assert j0.executor_cpu_s == pytest.approx(0.6)
    assert j0.shuffle_bytes == 1500
    # only the three Python-worker timings count, not the data sizes
    assert j0.python_worker_s == pytest.approx(0.2)
    assert j1.python_worker_s == pytest.approx(0.02)


def test_per_span_totals_and_residual():
    jobs = eventlog.read(LOG)
    spans = _spans()
    eventlog.assign(jobs, spans)
    assert jobs[2].span == 1  # the innermost span open at its submission
    c = eventlog.span_counters(jobs, spans)
    assert c[0]["jobs"] == 1 and c[0]["tasks"] == 2
    assert c[1]["jobs"] == 2 and c[1]["tasks"] == 3
    assert c[1]["executor_run_s"] == pytest.approx(1.6)
    assert c[1]["executor_cpu_s"] == pytest.approx(0.95)
    assert c[1]["shuffle_bytes"] == 2000
    assert c[1]["python_worker_s"] == pytest.approx(0.02)
    assert c[2]["jobs"] == 0
    # residual: wall time minus what child spans and own jobs cover
    assert c[0]["driver_residual_s"] == pytest.approx(10 - (4 + 1 + 1))
    assert c[1]["driver_residual_s"] == pytest.approx(4 - 2)
    assert c[2]["driver_residual_s"] == pytest.approx(1)


def test_self_time_subtracts_the_union_of_children():
    st = self_times(_spans())
    assert st == {0: pytest.approx(5.0), 1: pytest.approx(4.0), 2: pytest.approx(1.0)}
    # overlapping children (parallel workers) count once
    spans = [Span(0, "runner", 0.0, 10.0, None, 1, 1),
             Span(1, "w", 1.0, 6.0, 0, 2, 1), Span(2, "w", 4.0, 8.0, 0, 3, 1)]
    assert self_times(spans)[0] == pytest.approx(3.0)
    assert union_length([(0, 1), (0.5, 2), (5, 6), (3, 3)]) == pytest.approx(3.0)


def test_tracer_wraps_and_restores_module_attributes():
    class Mod:
        @staticmethod
        def work(x):
            return x * 2

    import types

    mod = types.SimpleNamespace(work=Mod.work)
    tr = Tracer()
    tr.wrap(mod, "work", "layer", lambda sp, a, k, o: sp.info.update(out=o))
    with tr.span("outer"):
        assert mod.work(3) == 6
    assert [s.name for s in tr.spans] == ["outer", "layer"]
    assert tr.spans[1].parent == 0 and tr.spans[1].info == {"out": 6}
    tr.restore()
    assert mod.work is Mod.work
