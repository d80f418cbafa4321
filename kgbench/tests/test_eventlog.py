"""Event-log aggregation on a canned two-file rolling log.

Run with ``python3 -m pytest kgbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import os

import pytest

from kgbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog")


def test_reads_rolling_files_in_order_and_skips_appstatus():
    names = [os.path.basename(p) for p in eventlog.event_files(LOG)]
    assert names == ["events_1_local-1", "events_2_local-1"]


def test_aggregates_task_metrics_by_job_group():
    groups = eventlog.aggregate(LOG)
    assert set(groups) == {"tagging.plan", "", "triples.write"}

    plan = groups["tagging.plan"]
    assert plan.jobs == 2
    # stage 1 is listed by jobs 0 and 2 but its task counts once, under job 0
    assert plan.tasks == 6
    assert plan.task_cpu_s == pytest.approx(2.25)
    assert plan.gc_s == pytest.approx(0.005)
    assert plan.shuffle_write_mb == pytest.approx(2.0)
    assert plan.spill_mb == pytest.approx(2.0)  # disk bytes, not memory bytes

    ungrouped = groups[""]
    assert (ungrouped.jobs, ungrouped.tasks) == (1, 1)

    write = groups["triples.write"]
    assert write.task_cpu_s == pytest.approx(3.0)
    assert write.gc_s == pytest.approx(1.5)


def test_task_skew_is_the_worst_stage_max_over_median():
    groups = eventlog.aggregate(LOG)
    # stage 0 ran 10, 30 and 40 ms: 40 / 30; stage 3 ran 20 and 20 ms: 1
    assert groups["tagging.plan"].task_skew == pytest.approx(40 / 30)
    # single-task stages have no skew ratio; a group with tasks reads 1.0
    assert groups["triples.write"].task_skew == 1.0
    assert eventlog.GroupMetrics().task_skew == 0.0
