"""Job-to-span attribution on a short recorded event log.

``data/eventlog_short.jsonl`` was recorded from a local Spark 4.1
session with rolling, uncompressed event logs and trimmed to the job and
task events: span 1 ran two jobs (an aggregate and its AQE follow-up),
its child span 2 ran a shuffle aggregation (two jobs), and one job ran
outside any span."""

import os
import shutil

import pytest

import spans

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_short.jsonl")


@pytest.fixture()
def log_dir(tmp_path):
    # the rolling layout Spark writes: eventlog_v2_<app>/events_<n>_<app>
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    shutil.copy(DATA, d / "events_1_local-1")
    return str(tmp_path)


def test_jobs_attributed_to_their_spans(log_dir):
    per_span, jobs, unattributed = spans.attribute_event_log(
        spans.read_event_log(log_dir)
    )
    assert jobs == 5
    assert unattributed == 1
    assert per_span["1"]["spark.jobs"] == 2
    assert per_span["2"]["spark.jobs"] == 2
    assert per_span["none"]["spark.jobs"] == 1


def test_task_metrics_follow_stage_to_job_to_span(log_dir):
    per_span, _, _ = spans.attribute_event_log(spans.read_event_log(log_dir))
    # every task lands on exactly one span
    events = spans.read_event_log(log_dir)
    n_tasks = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)
    assert sum(m["spark.tasks"] for m in per_span.values()) == n_tasks
    # the shuffle of span 2's aggregation is written and read in span 2
    assert per_span["2"]["spark.shuffle_write_bytes"] > 0
    assert (
        per_span["2"]["spark.shuffle_read_bytes"]
        == per_span["2"]["spark.shuffle_write_bytes"]
    )
    assert per_span["none"]["spark.shuffle_write_bytes"] == 0
    run_s = sum(m["spark.executor_run_s"] for m in per_span.values())
    assert run_s == pytest.approx(0.367 + 0.483 + 0.034)


def test_python_bytes_read_from_accumulables():
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Stage IDs": [0],
            "Properties": {spans.SPAN_PROPERTY: "7"},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Info": {
                "Accumulables": [
                    {"Name": "data sent to Python workers", "Update": "100"},
                    {"Name": "data returned from Python workers", "Update": 40},
                ]
            },
            "Task Metrics": {},
        },
    ]
    per_span, jobs, unattributed = spans.attribute_event_log(events)
    assert (jobs, unattributed) == (1, 0)
    assert per_span["7"]["spark.python_bytes_in"] == 100
    assert per_span["7"]["spark.python_bytes_out"] == 40
