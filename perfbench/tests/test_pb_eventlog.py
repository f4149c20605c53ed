"""The fixture holds three tiny jobs: a pandas_udf written to parquet under
``perfbench:io_write``, a count under ``perfbench:transformers:t/fn`` and an
untagged count (see capture_eventlog.py)."""

from pathlib import Path

import pytest

from perfbench import eventlog

FIXTURE = Path(__file__).parent / "data" / "eventlog.jsonl"


@pytest.fixture(scope="module")
def events():
    return list(eventlog.read_events(str(FIXTURE)))


def test_counters_by_job_group(events):
    groups = eventlog.counters(events, [(1, 0, 1e18)])[1]
    assert set(groups) == {"io_write", "transformers:t/fn", "other"}
    w = groups["io_write"]
    assert w.jobs == 1
    assert w.values["python_rows"] == 100
    assert w.values["python_bytes_sent"] > 0
    assert w.values["python_bytes_received"] > 0
    assert w.values["records_written"] == 100
    assert w.values["files_written"] == 1
    assert w.values["bytes_written"] > 0
    assert w.values["tasks"] >= 1
    t = groups["transformers:t/fn"]
    assert t.jobs >= 1
    assert t.values["shuffle_write_bytes"] > 0
    assert t.values["python_rows"] == 0
    assert groups["other"].jobs >= 1


def test_jobs_outside_every_run_are_dropped(events):
    assert eventlog.counters(events, [(1, 0, 1)]) == {}


def test_runs_split_by_submission_time(events):
    starts = sorted(e["Submission Time"] for e in events if e["Event"] == "SparkListenerJobStart")
    cut = starts[0] + 0.5  # the first job alone falls in run 1
    out = eventlog.counters(events, [(1, 0, cut), (2, cut, 1e18)])
    assert sum(c.jobs for c in out[1].values()) == 1
    assert sum(c.jobs for c in out[2].values()) == len(starts) - 1


def test_python_nodes_recognised():
    for name in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas"):
        assert eventlog.is_python_node(name)
    for name in ("HashAggregate", "Project", "Exchange"):
        assert not eventlog.is_python_node(name)
