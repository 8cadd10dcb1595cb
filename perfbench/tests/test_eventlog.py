"""Tests of the event-log reader and span arithmetic on a canned log.

``data/eventlog_v2_local-1792206987973`` is a real Spark 4.1 rolling log,
cut down to the events the reader uses and split into two zstd parts.
Two job groups ran: ``span-1`` a pandas UDF feeding an aggregation, and
``span-2`` a plain aggregation. The expected sums below were taken by
hand from the decoded JSON.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_rolling_parts_are_read_in_order():
    parts = eventlog.log_parts(DATA)
    assert [os.path.basename(p)[:9] for p in parts] == ["events_1_",
                                                        "events_2_"]
    events = list(eventlog.read_events(DATA))
    assert len(events) == 21
    assert events[0]["Event"] == "SparkListenerLogStart"
    assert events[-1]["Event"] == "SparkListenerApplicationEnd"


def test_group_costs_sum_task_metrics_per_job_group():
    costs = eventlog.group_costs(
        eventlog.stage_costs(eventlog.read_events(DATA)))
    assert set(costs) == {"span-1", "span-2"}
    udf, plain = costs["span-1"], costs["span-2"]
    assert udf.tasks == 4
    assert udf.cpu_s == pytest.approx(0.890881681)
    assert udf.py_init_s == pytest.approx(2.388)
    assert udf.py_sent_mb == pytest.approx(8576 / 2**20)
    assert udf.shuffle_write_mb == pytest.approx(468 / 2**20)
    assert udf.spill_mb == 0
    # slowest stage (stage 0, 3.46 s) ran tasks of 2709, 2705 and 293 ms
    assert udf.task_skew == pytest.approx(2709 / 2705)
    assert plain.tasks == 3
    assert plain.py_init_s == 0 and plain.py_sent_mb == 0
    assert plain.shuffle_write_mb == pytest.approx(118 / 2**20)
    assert plain.task_skew == 1.0


def test_missing_log_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError):
        eventlog.log_parts(str(tmp_path))


def test_prefix_self_times_telescope_to_the_last_wall():
    walls = [1.0, 2.5, 2.25, 4.0]
    selfs = eventlog.prefix_self_times(walls)
    assert selfs == [1.0, 1.5, -0.25, 1.75]
    assert sum(selfs) == pytest.approx(walls[-1])
