"""Event-log reader and span attribution on a small canned log.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_small.json")
T0 = 1_700_000_000.0


def _spans():
    # 0: a wave 0.0-1.0 s; 1: a stage call inside it 0.05-0.6 s;
    # 2: a promote inside it 0.59-0.75 s (its job carries the property);
    # job 2 (0.8 s, no property) falls back to the innermost open span: 0
    return [
        {"id": 0, "name": "crawler.run_wave", "parent": None, "start": T0, "end": T0 + 1.0},
        {"id": 1, "name": "statestore.stage", "parent": 0, "start": T0 + 0.05, "end": T0 + 0.6},
        {"id": 2, "name": "statestore.promote", "parent": 0, "start": T0 + 0.59, "end": T0 + 0.75},
    ]


def test_read_event_log_aggregates_tasks_per_job():
    jobs = tracing.read_event_log(LOG)
    assert sorted(jobs) == [0, 1, 2]
    j0 = jobs[0]
    assert j0["span"] == 1
    assert j0["tasks"] == 3  # stage 0 (2 tasks) + stage 1 (1 task)
    assert j0["cpu_s"] == pytest.approx(0.45)
    assert j0["task_s"] == pytest.approx(0.2 + 0.3 + 0.1)
    assert j0["shuffle_bytes"] == 6144
    assert j0["spill_bytes"] == 1024
    assert (j0["start"], j0["end"]) == (pytest.approx(T0 + 0.1), pytest.approx(T0 + 0.53))
    # a stage listed again by a later job stays with the job that ran it
    assert jobs[1]["tasks"] == 1 and jobs[1]["span"] == 2
    assert jobs[2]["span"] is None


def test_attribution_by_property_then_wall_clock():
    jobs = tracing.read_event_log(LOG)
    by_span = tracing.attribute_jobs(jobs, _spans())
    assert [j["start"] for j in by_span[1]] == [pytest.approx(T0 + 0.1)]
    assert [j["start"] for j in by_span[2]] == [pytest.approx(T0 + 0.6)]
    assert [j["start"] for j in by_span[0]] == [pytest.approx(T0 + 0.8)]


def test_op_profile_counts_the_subtree_and_driver_only_time():
    recs = _spans()
    by_span = tracing.attribute_jobs(tracing.read_event_log(LOG), recs)
    p = tracing.op_profile(recs, by_span, recs[0], cores=4)
    assert p["jobs"] == 3 and p["tasks"] == 5
    assert p["shuffle_bytes"] == 6144 and p["spill_bytes"] == 1024
    assert p["cpu_s"] == pytest.approx(0.54)
    # jobs cover 0.1-0.53, 0.6-0.72, 0.8-0.91 of the 1.0 s wave
    assert p["driver_only_s"] == pytest.approx(1.0 - 0.43 - 0.12 - 0.11)
    assert p["busy_share"] == pytest.approx(0.8 / 4.0)


def test_union_merges_overlaps():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert tracing.union_s([]) == 0.0


class _Box:
    def work(self, x):
        return x + 1

    @staticmethod
    def make(x):
        return _Box()


def test_instrumented_records_spans_and_restores():
    spans, last = tracing.Spans(), {}
    raw_work, raw_make = _Box.__dict__["work"], _Box.__dict__["make"]
    with tracing.instrumented(spans, [(_Box, "work", "box.work"), (_Box, "make", "box.make")], last):
        with spans.span("outer"):
            assert _Box.make(1).work(1) == 2
    assert [r["name"] for r in spans.records] == ["outer", "box.make", "box.work"]
    assert [r["parent"] for r in spans.records] == [None, 0, 0]
    assert last["box.work"] == 2 and isinstance(last["box.make"], _Box)
    assert _Box.__dict__["work"] is raw_work and _Box.__dict__["make"] is raw_make
