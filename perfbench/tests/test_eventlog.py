"""Pins the event-log fold on a tiny committed log.

``eventlog_tiny.jsonl`` holds Spark 4.1 listener events cut down to the
fields the parser reads: one query span with a Python plan node and a
failed task, one job between spans, and one span whose jobs come from
a stream thread, with a stage retry and a micro-batch. Its last line is
torn, as in a log that is still being written.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

B = 1_700_000_000_000
SPANS = [("q1", B + 1000, B + 2000), ("q2", B + 3000, B + 5000)]


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold(eventlog.read_events(os.path.join(HERE, "eventlog_tiny.jsonl")), SPANS)


def test_jobs_are_attributed_by_time_window(folded):
    # job 1 starts between the spans and belongs to neither
    assert folded["q1"]["jobs"] == 1
    assert folded["q2"]["jobs"] == 2


def test_stages_tasks_failures_and_retries(folded):
    q1, q2 = folded["q1"], folded["q2"]
    assert (q1["stages"], q1["tasks"], q1["task_failures"], q1["stage_retries"]) == (1, 2, 1, 0)
    assert (q2["stages"], q2["tasks"], q2["task_failures"], q2["stage_retries"]) == (2, 1, 0, 1)


def test_task_metrics_are_scaled(folded):
    q1 = folded["q1"]
    assert q1["cpu_s"] == pytest.approx(2.0)
    assert q1["run_s"] == pytest.approx(3.0)
    assert q1["gc_s"] == pytest.approx(0.1)
    assert q1["shuffle_write_bytes"] == 500
    assert q1["input_bytes"] == 4096
    q2 = folded["q2"]
    assert q2["shuffle_read_bytes"] == 100  # remote plus local
    assert q2["spill_disk_bytes"] == 4000


def test_python_metrics_come_only_from_python_nodes(folded):
    q1 = folded["q1"]
    assert q1["python_bytes_sent"] == 1000
    assert q1["python_bytes_received"] == 250
    # the Project node's 99 output rows are not Python rows
    assert q1["python_rows_received"] == 7
    assert q1["python_run_s"] == pytest.approx(1.5)
    assert folded["q2"]["python_bytes_sent"] == 0


def test_busy_time_heap_and_micro_batches(folded):
    q1, q2 = folded["q1"], folded["q2"]
    assert q1["job_busy_s"] == pytest.approx(0.4)
    # jobs 2 and 3 overlap: union of [3100, 3400] and [3300, 3900]
    assert q2["job_busy_s"] == pytest.approx(0.8)
    assert q1["heap_peak_mb"] == pytest.approx(100.0)
    assert q2["heap_peak_mb"] == pytest.approx(300.0)
    assert (q1["micro_batches"], q2["micro_batches"]) == (0, 1)
