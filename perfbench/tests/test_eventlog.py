"""Event-log parsing on a recorded log (no Spark needed).

fixtures/eventlog holds a trimmed Spark 4.1 rolling event log of three jobs
on local[2]: a groupBy under job group ``span-1``, a count under ``span-2``
and a collect under ``untraced``. It is split over events_9 and events_10 so
the reader must order the parts numerically.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog")
EDGE = FIXTURES + "_edge"


def recorded():
    return eventlog.group_stats(eventlog.read_events(eventlog.find_log(FIXTURES)))


def test_recorded_log_groups():
    g = recorded()
    assert set(g) == {"span-1", "span-2", "untraced"}
    assert [g[k].jobs for k in ("span-1", "span-2", "untraced")] == [1, 1, 1]
    assert g["span-1"].task_ms == [432, 422, 169, 182]
    assert g["span-2"].task_ms == [69, 74, 49]
    assert g["span-1"].shuffle_write_bytes == 364
    assert g["span-2"].shuffle_write_bytes == 118
    assert g["span-1"].exec_cpu_s == pytest.approx(0.390408087)
    assert g["span-1"].spill_disk_bytes == 0


def test_task_skew_is_max_over_median():
    g = recorded()
    assert g["span-1"].task_skew == pytest.approx(432 / ((182 + 422) / 2))
    assert g["untraced"].task_skew == 1.0  # a single task has no skew


def test_rolling_parts_are_read_in_numeric_order():
    log = eventlog.find_log(FIXTURES)
    names = [os.path.basename(f) for f in eventlog._files(log)]
    assert names == ["events_9_local-1", "events_10_local-1"]


def test_failed_task_spill_and_stage_from_job():
    # fixtures/eventlog_edge: a job whose stage is known only from JobStart,
    # a killed task without metrics, and a job with no group
    g = eventlog.group_stats(eventlog.read_events(eventlog.find_log(EDGE)))
    assert list(g) == ["g"]
    assert g["g"].exec_cpu_s == 2.0
    assert g["g"].spill_disk_bytes == 4096
    assert g["g"].shuffle_write_bytes == 10
    assert g["g"].task_ms == [10, 40]


def test_find_log_needs_exactly_one(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
