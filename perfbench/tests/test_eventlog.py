"""The event-log aggregator on a small recorded log.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log of a ``local[2]``
session, trimmed to the events and fields the aggregator reads. The session
ran three parts:

- job group ``layer.a``: ``mapInPandas`` over 1,000 rows in 2 partitions,
  written as parquet (one job, one stage, two tasks);
- job group ``layer.b``: a ``groupBy().count().collect()`` (two jobs; the
  shuffle map stage of the second job was skipped);
- no job group: ``spark.range(10).count()``.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as f:
        return eventlog.aggregate_lines(f)


def test_every_task_lands_in_its_job_group(groups):
    assert set(groups) == {"layer.a", "layer.b", eventlog.UNTAGGED}
    a, b, rest = groups["layer.a"], groups["layer.b"], groups[eventlog.UNTAGGED]
    assert (a.jobs, a.stages, a.tasks) == ({0}, {0}, 2)
    assert (b.jobs, b.stages, b.tasks) == ({1, 2}, {1, 3}, 3)
    assert (rest.jobs, rest.stages, rest.tasks) == ({3, 4}, {4, 6}, 3)
    assert all(s.failed_tasks == 0 for s in groups.values())


def test_python_worker_time_and_bytes_of_map_in_pandas(groups):
    a = groups["layer.a"]
    assert a.python_seen
    assert a.python_ms == 2033 + 1824
    assert a.python_bytes == 2 * (4304 + 8224)
    assert not groups["layer.b"].python_seen and groups["layer.b"].python_ms == 0


def test_io_and_cpu_sums(groups):
    a, b = groups["layer.a"], groups["layer.b"]
    assert a.output_bytes > 0 and b.output_bytes == 0  # only layer.a wrote parquet
    assert b.shuffle_write_bytes > 0 and b.shuffle_read_bytes > 0
    assert a.shuffle_write_bytes == 0
    assert b.input_records == 1000  # spark.range rows counted as records read
    assert a.cpu_s == pytest.approx(a.cpu_ns / 1e9) and a.cpu_ns > 0


def test_task_skew_is_max_over_median_task_time(groups):
    a = groups["layer.a"]
    assert {k: sorted(v) for k, v in a.task_ms.items()} == {0: [2531, 2547]}
    assert a.task_skew == pytest.approx(2547 / 2539)
    assert eventlog.LayerStats().task_skew == 1.0  # no tasks


def _task_end(stage: int, ms: int) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
        "Task End Reason": {"Reason": "Success"},
    })


def test_task_skew_is_taken_within_each_stage():
    submitted = [json.dumps({
        "Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": s},
        "Properties": {"spark.jobGroup.id": "layer"},
    }) for s in (0, 1)]
    # a light stage and a heavy one, each even: the mix is not skew
    even = submitted + [_task_end(0, 10)] * 3 + [_task_end(1, 900)] * 2
    assert eventlog.aggregate_lines(even)["layer"].task_skew == 1.0
    # one straggler in the heavy stage is
    skewed = even + [_task_end(1, 2700)]
    assert eventlog.aggregate_lines(skewed)["layer"].task_skew == pytest.approx(3.0)


def test_find_log_skips_unfinished_logs(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(tmp_path / "app-1")
