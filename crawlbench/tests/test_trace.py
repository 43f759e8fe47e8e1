"""Span arithmetic and event-log parsing of the benchmark's tracer."""

from __future__ import annotations

import shutil
from pathlib import Path
from types import SimpleNamespace

import pytest

from crawlbench import trace

DATA = Path(__file__).parent / "data"


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        trace.Span("parent", 0.0, 10.0),
        trace.Span("a", 1.0, 4.0, parent=0),
        trace.Span("b", 3.0, 6.0, parent=0),  # overlaps a
        trace.Span("c", 8.0, 12.0, parent=0),  # runs past the parent's end
        trace.Span("grandchild", 1.5, 2.5, parent=1),
    ]
    got = trace.self_times(spans)
    # parent: 10 - |[1, 6] u [8, 10]| = 10 - 7
    assert got == pytest.approx([3.0, 2.0, 3.0, 4.0, 1.0])


def test_self_times_and_uncovered_time_account_for_the_wall():
    spans = [
        trace.Span("round", 1.0, 9.0),
        trace.Span("x", 2.0, 5.0, parent=0),
        trace.Span("y", 6.0, 7.0, parent=0),
        trace.Span("write", 9.5, 10.0),
    ]
    wall = (0.0, 11.0)
    uncovered = 11.0 - trace.covered_time([(s.start, s.end) for s in spans if s.parent is None], *wall)
    assert sum(trace.self_times(spans)) + uncovered == pytest.approx(11.0)


def test_covered_time_clips_to_the_window():
    assert trace.covered_time([(0, 2), (1, 3), (5, 20)], 1, 10) == pytest.approx(7.0)
    assert trace.covered_time([], 0, 1) == 0.0


def test_event_log_parsing_on_a_canned_log(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    shutil.copy(DATA / "eventlog.jsonl", log_dir / "local-1")
    (log_dir / "appstatus_local-1").write_text("")  # not an event file
    jobs, stages = trace.parse_events(trace.read_event_log(log_dir))

    assert [(j.job_id, j.description) for j in jobs] == [
        (0, "urls.canonicalize#materialize"), (1, "trace.funnel"), (2, None),
    ]
    assert jobs[0].start == 1000.0 and jobs[0].end == 1002.0
    assert stages[0].tasks == 2 and stages[2].tasks == 1  # a task without metrics is skipped

    by = trace.totals_by_description(jobs, stages, 999.0, 1005.0)
    canon = by["urls.canonicalize"]  # the materialization suffix folds into the span
    assert canon.task_cpu_s == pytest.approx(2.25)
    assert canon.shuffle_write_bytes == 3 * 2**20
    assert canon.spill_bytes == 2**20
    assert canon.gc_s == pytest.approx(0.15)
    assert by["trace.funnel"].task_cpu_s == pytest.approx(0.1)
    assert "" not in by  # job 2 was submitted outside the window

    assert trace.job_intervals(jobs, 999.0, 1020.0) == [
        (1000.0, 1002.0), (1003.0, 1003.5), (1010.0, 1011.0),
    ]


def test_chain_share_leaves_out_the_tracers_counts_and_checkpoint_jobs():
    jobs, stages = trace.parse_events(trace.read_event_log(DATA))
    spans = [
        trace.Span("crawl.round", 999.5, 1009.0),
        # its checkpoint job (job 0) runs 1000-1002, inside the span
        trace.Span("urls.canonicalize", 999.8, 1002.2, parent=0),
        trace.Span(trace.FUNNEL, 1002.5, 1003.6, parent=0),
        trace.Span("tables.write", 1005.0, 1006.0, parent=0),
    ]
    tracer = SimpleNamespace(spans=spans, probable=0, slow=0)
    got = {k: m["value"] for k, m in trace.layer_metrics(
        tracer, (999.0, 1012.0), jobs, stages, rounds=1).items()}

    assert got["trace.funnel_s"] == pytest.approx(1.1)
    assert got["trace.materialize_s"] == pytest.approx(2.0)
    assert got["trace.untraced_s"] == pytest.approx(3.5)
    # (canonicalize 2.4 + write 1.0 - checkpoint 2.0) / (13 - funnel 1.1 - checkpoint 2.0)
    assert got["trace.chain_frac"] == pytest.approx(1.4 / 9.9)
    selfs = sum(got[f"{n}.busy_s"] for n in trace.SPANS) + got["trace.funnel_s"]
    assert selfs + got["trace.untraced_s"] == pytest.approx(13.0)
