"""Spans and the event-log parser.

data/eventlog.jsonl is a trimmed real Spark 4.1 event log recorded by
record_eventlog.py: job group `udf` scans 100 parquet rows (two files)
through an Arrow pandas UDF into a shuffle aggregate, group `scan`
filters the same files, and a last job runs with no group.
"""

import os

import pytest

from perfbench.tracing import EventLog, Tracer, span_profiles

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return EventLog.from_file(LOG)


def test_jobs_and_tasks_per_group(log):
    udf, scan = log.profile(["udf"]), log.profile(["scan"])
    assert udf["jobs"] == 3 and scan["jobs"] == 3
    assert udf["tasks"] == 4 and scan["tasks"] == 4
    both = log.profile(["udf", "scan"])
    assert both["jobs"] == 6 and both["tasks"] == 8
    assert log.profile(["nobody"])["jobs"] == 0


def test_python_boundary_counted_only_where_the_udf_ran(log):
    udf, scan = log.profile(["udf"]), log.profile(["scan"])
    assert udf["python_ms"] > 0 and udf["arrow_bytes"] == 2192
    assert scan["python_ms"] == 0 and scan["arrow_bytes"] == 0


def test_rows_scanned_reads_file_scan_nodes(log):
    # the data is two 50-row files; `id < 10` lets the scan skip one by
    # its row-group statistics, and the Filter node's 10 rows are not scans
    assert log.profile(["udf"])["rows_scanned"] == 100
    assert log.profile(["scan"])["rows_scanned"] == 50


def test_cpu_shuffle_and_wait_are_summed(log):
    udf = log.profile(["udf"])
    assert udf["cpu_ms"] > 0 and udf["shuffle_bytes"] > 0 and udf["wait_ms"] >= 0
    assert udf["spill_bytes"] == 0


class _Tracker:
    def __init__(self, jobs):
        self.jobs = jobs

    def getJobIdsForGroup(self, g):
        return self.jobs.get(g, [])


class _Context:
    """The slice of SparkContext a Tracer calls."""

    def __init__(self):
        self.props: dict = {}
        self.jobs = {"perfbench-1": [7], "perfbench-2": [8, 9]}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def statusTracker(self):
        return _Tracker(self.jobs)


def test_spans_nest_and_restore_the_job_group():
    sc = _Context()
    tr = Tracer(sc)
    with tr.span("outer", request=4) as outer:
        assert sc.props["spark.jobGroup.id"] == "perfbench-1"
        with tr.span("inner") as inner:
            assert sc.props["spark.jobGroup.id"] == "perfbench-2"
        assert sc.props["spark.jobGroup.id"] == "perfbench-1"
    assert sc.props["spark.jobGroup.id"] is None
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["request"] == 4
    assert outer["tracker_jobs"] == [7] and inner["tracker_jobs"] == [8, 9]
    assert [s["name"] for s in tr.spans] == ["inner", "outer"]


def test_span_profiles_include_descendants(log):
    spans = [
        {"id": 1, "name": "call", "parent": None, "group": "udf", "extra_groups": [],
         "start": 0.0, "end": 1.5},
        {"id": 2, "name": "exec", "parent": 1, "group": "scan", "extra_groups": [],
         "start": 0.5, "end": 1.0},
    ]
    prof = span_profiles(spans, log)
    assert prof[1]["jobs"] == 6 and prof[2]["jobs"] == 3
    assert prof[1]["ms"] == pytest.approx(1500.0) and prof[2]["ms"] == pytest.approx(500.0)
