"""The event-log reducer against a small recorded log.

``testdata/eventlog_small.jsonl`` is a Spark 4 event log recorded on
local[2] and cut down to the fields the reducer reads. It holds four
jobs: a shuffle aggregation in group ``op1/q.run#0``, a one-task count
in the nested group ``op1/q.run#0/sources.load_table#1``, a sort forced
to spill in ``op2/q.run#2``, and a count with no job group. Expected
values were read off the recorded task events. The last test covers
how planning windows are matched to spans.

Run with: python3 -m pytest perfbench/test_tracing.py
"""

from __future__ import annotations

import shutil
from pathlib import Path

import tracing

LOG = Path(__file__).parent / "testdata" / "eventlog_small.jsonl"


def test_reduce_event_log_groups_tasks_by_job_group():
    groups = tracing.reduce_event_log(LOG.read_text().splitlines())
    assert set(groups) == {
        "op1/q.run#0",
        "op1/q.run#0/sources.load_table#1",
        "op2/q.run#2",
    }

    agg = groups["op1/q.run#0"]
    assert agg["tasks"] == 4
    assert agg["shuffle_bytes"] == 2 * 182
    assert agg["spill_bytes"] == 0
    assert agg["records_read"] == 1000
    assert abs(agg["task_s_sum"] - (0.376 + 0.373 + 0.167 + 0.175)) < 1e-9
    assert agg["task_s_max"] == 0.376

    nested = groups["op1/q.run#0/sources.load_table#1"]
    assert (nested["tasks"], nested["records_read"]) == (1, 10)

    sort = groups["op2/q.run#2"]
    assert (sort["tasks"], sort["spill_bytes"], sort["shuffle_bytes"]) == (1, 6266, 0)


def test_under_sums_a_group_and_its_nested_groups():
    groups = tracing.reduce_event_log(LOG.read_text().splitlines())
    tot = tracing.under(groups, "op1/q.run#0")
    assert tot["tasks"] == 5
    assert tot["records_read"] == 1010
    assert tot["task_s_max"] == 0.376
    assert tracing.under(groups, "op1/q.run")["tasks"] == 0  # not a prefix match
    assert tracing.under(groups, "op3")["tasks"] == 0


def test_event_log_lines_reads_rolling_parts_in_order(tmp_path):
    lines = LOG.read_text().splitlines(keepends=True)
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_2_local-1").write_text("".join(lines[5:]))
    (app / "events_1_local-1").write_text("".join(lines[:5]))
    (app / "appstatus_local-1").write_text("")
    assert list(tracing.event_log_lines(str(tmp_path))) == lines

    single = tmp_path / "single"
    single.mkdir()
    shutil.copy(LOG, single / "local-2")
    assert list(tracing.event_log_lines(str(single))) == lines


def test_planning_s_sums_the_executions_that_start_inside_a_span():
    tracer = tracing.Tracer(sc=None)
    # (optimisation start, planning end) of four executions, in epoch seconds
    tracer.planning += [(99.0, 99.5), (100.0, 100.08), (100.4, 100.45), (101.5, 101.6)]
    # A span from 100.0007 to 101.0 holds the second and third: the JVM
    # logs whole milliseconds, so the second reads 100.000 and still counts.
    got = tracer.planning_s(100.0007, 101.0)
    assert abs(got - (0.08 + 0.05)) < 1e-9
    assert tracer.planning_s(102.0, 103.0) == 0
