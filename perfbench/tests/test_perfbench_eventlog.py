"""The event-log parser on a small log recorded from a Spark 4.1 session
(trimmed to the event kinds and fields the parser reads). The session ran, under job
descriptions: an extraction (mapInPandas) over a few synthetic turns as
``extraction``; a grouped count as ``agg``; and as ``pipeline.commit`` a
count followed by two parquet writes into ``wh/t01_normalized`` and
``wh/t02_records``."""

import json
import os

import pytest

from eventlog import EventLog, LabelStats, parse_event_log

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log() -> EventLog:
    return parse_event_log(LOG)


def test_log_is_plain_json_lines():
    with open(LOG) as f:
        events = [json.loads(line)["Event"] for line in f]
    assert "SparkListenerTaskEnd" in events
    assert any(e.endswith("SQLExecutionStart") for e in events)


def test_jobs_and_tasks_per_description(log):
    for label in ("extraction", "agg", "pipeline.commit"):
        s = log.labels[label]
        assert s.jobs >= 1 and s.tasks >= 1, label
        assert s.task_ms >= 0
    assert log.labels["pipeline.commit"].jobs >= 3


def test_python_time_only_where_python_ran(log):
    assert log.labels["extraction"].python_ms > 0
    assert log.labels["agg"].python_ms == 0


def test_every_task_is_attributed_once(log):
    tasks = shuffle = 0
    with open(LOG) as f:
        for line in f:
            e = json.loads(line)
            if e["Event"] == "SparkListenerTaskEnd":
                tasks += 1
                shuffle += e["Task Metrics"]["Shuffle Write Metrics"][
                    "Shuffle Bytes Written"]
    assert sum(s.tasks for s in log.labels.values()) == tasks
    assert sum(s.shuffle_bytes for s in log.labels.values()) == shuffle
    assert log.labels["agg"].shuffle_bytes > 0


def test_rollup_sums_a_label_family(log):
    total = log.rollup("pipeline")
    commit = log.labels["pipeline.commit"]
    assert total.jobs == commit.jobs and total.tasks == commit.tasks
    assert log.rollup("missing").jobs == 0


def test_stage_walls_attribute_each_write(log):
    walls = log.stage_walls("pipeline.commit")
    assert set(walls) == {"t01_normalized", "t02_records"}
    assert all(w >= 0 for w in walls.values())
    commit = [x for x in log.executions.values()
              if x.label == "pipeline.commit"]
    span = (max(x.end_ms for x in commit)
            - min(x.start_ms for x in commit)) / 1000.0
    assert sum(walls.values()) == pytest.approx(span)
    writes = sorted(x.write_target for x in log.executions.values()
                    if x.write_target)
    assert [w.rsplit("/", 1)[1] for w in writes] == ["t01_normalized",
                                                     "t02_records"]
    assert log.stage_walls("agg") == {}


def test_task_skew():
    s = LabelStats()
    s.stage_task_ms[1].extend([10, 10, 40])
    s.stage_task_ms[2].extend([5])
    assert s.task_skew() == 4.0
    assert LabelStats().task_skew() == 0.0
