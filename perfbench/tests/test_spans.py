"""Unit tests of the span fold against a small committed fixture: a
trimmed excerpt of a real Spark 4.1 event log (three jobs, one tagged
with no span, one stage skipped) and five spans around it.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import Tracer, attribute_jobs, fold, read_event_logs, read_spans, self_times  # noqa: E402

FIX = os.path.join(HERE, "fixtures")


@pytest.fixture
def parsed():
    spans = read_spans(os.path.join(FIX, "spans.jsonl"))
    jobs, stages = read_event_logs([os.path.join(FIX, "eventlog.jsonl")])
    return spans, jobs, stages


def test_event_log_parse(parsed):
    _, jobs, stages = parsed
    assert [(j.id, j.group) for j in jobs] == [(143, "r:1"), (150, "r:2"), (151, None)]
    assert jobs[1].stages == [318, 319]
    assert 318 not in stages  # skipped stage: no task ran
    st = stages[319]
    assert st.tasks == 4
    assert st.executor_run_s == pytest.approx(1.761)
    # time to initialize + time to run Python workers, ms -> s
    assert st.python_worker_s == pytest.approx(6.209 + 1.649)
    assert stages[320].shuffle_bytes == 378644


def test_jobs_by_group_then_by_time(parsed):
    spans, jobs, _ = parsed
    owned = attribute_jobs(spans, jobs)
    assert [j.id for j in owned["r:1"]] == [143]
    assert [j.id for j in owned["r:2"]] == [150]
    # untagged (streaming) job: innermost span holding its submit time
    assert [j.id for j in owned["r:3"]] == [151]
    assert owned["r:0"] == []


def test_self_time_subtracts_children(parsed):
    spans, _, _ = parsed
    selfs = self_times(spans)
    assert selfs["r:0"] == pytest.approx(3.0 - (0.5 + 0.95 + 0.65 + 0.2))
    assert selfs["r:1"] == pytest.approx(0.5)


def test_fold_medians_per_span_name(parsed):
    f = fold(*parsed)
    pairs = f["dedup.pairs"]
    assert pairs["jobs"] == 1 and pairs["tasks"] == 4
    assert pairs["executor_run_s"] == pytest.approx(1.761)
    assert pairs["python_worker_s"] == pytest.approx(7.858)
    assert pairs["pairs_out"] == 10
    scan = f["io.scan"]  # two instances: medians
    assert scan["s"] == pytest.approx(0.35)
    assert scan["rows"] == 7000
    assert scan["jobs"] == 0.5
    assert f["streaming.run_once"]["shuffle_bytes"] == 378644


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("io.scan") as c:
        c["rows"] = 1
    assert t.spans == []
