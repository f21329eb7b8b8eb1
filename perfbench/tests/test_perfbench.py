"""Unit tests for the benchmark's own tooling; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from spans import SpanRecorder, merged_length  # noqa: E402


@pytest.fixture(scope="module")
def log():
    return eventlog.read(os.path.join(HERE, "canned_eventlog.json"))


def test_jobs_attributed_to_innermost_span(log):
    assert log.jobs[0].span_id == 5  # tagged with 3 and 5: 5 opened later
    assert log.jobs[1].span_id == 4
    assert log.jobs[2].span_id is None and log.jobs[2].batch_id == 7
    assert log.jobs[3].span_id is None and log.jobs[3].batch_id is None


def test_task_metrics_summed_over_a_jobs_stages(log):
    t = log.totals([log.jobs[0]])
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 3)
    assert t["cpu_ns"] == 65_000_000
    assert t["gc_ms"] == 6
    assert t["input_bytes"] == 4000
    assert t["shuffle_write_bytes"] == 1000 and t["shuffle_read_bytes"] == 1000
    assert t["spill_bytes"] == 10
    assert t["output_bytes"] == 4096


def test_python_sql_metrics_by_accumulator_id(log):
    t = log.totals([log.jobs[0]])
    assert t["python_boot_ms"] == 100      # "timing": already ms
    assert t["python_init_ms"] == 7
    assert t["python_total_ms"] == 2.0     # "nsTiming": ns -> ms
    assert t["python_bytes_sent"] == 512


def test_driver_side_metrics_follow_the_execution(log):
    assert log.totals([log.jobs[0]])["files_written"] == 3
    assert "files_written" not in log.totals([log.jobs[1]])


def test_storage_peak_is_max_over_tasks(log):
    assert log.storage_peak_bytes == 4 * 2**20


def test_jobs_without_stages_run_count_zero_stages(log):
    t = log.totals([log.jobs[3]])
    assert (t["jobs"], t["stages"]) == (1, 0)


def test_merged_length_handles_overlap_and_gaps():
    assert merged_length([]) == 0
    assert merged_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert merged_length([(1, 2), (0, 10)]) == 10


def _recorder():
    ticks = iter(range(100))
    entered, left = [], []
    rec = SpanRecorder(on_enter=lambda s: entered.append(s.tag),
                       on_exit=lambda s: left.append(s.tag),
                       clock=lambda: float(next(ticks)))
    return rec, entered, left


def test_self_time_subtracts_children():
    rec, entered, left = _recorder()
    with rec.span("root") as root:            # t=0
        with rec.span("a"):                   # t=1..2
            pass
        with rec.span("b") as b:              # t=3
            with rec.span("c"):               # t=4..5
                pass
        # b ends t=6; root ends t=7
    assert root.duration == 7 and rec.self_time(root) == 7 - (1 + 3)
    assert rec.self_time(b) == 3 - 1
    assert entered == ["pb-span-0", "pb-span-1", "pb-span-2", "pb-span-3"]
    assert left == ["pb-span-1", "pb-span-3", "pb-span-2", "pb-span-0"]
    assert sorted(rec.descendants(root.sid)) == [0, 1, 2, 3]


def test_wrap_records_a_span_and_unwrap_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    original = Mod.f
    rec, _, _ = _recorder()
    rec.wrap(Mod, "f", "layer.f")
    assert Mod.f(1) == 2
    assert [s.name for s in rec.spans] == ["layer.f"]
    rec.unwrap_all()
    assert Mod.f is original


def test_wrapped_exception_still_closes_the_span():
    rec, _, left = _recorder()

    def boom():
        raise ValueError("x")

    class Mod:
        f = staticmethod(boom)

    rec.wrap(Mod, "f", "layer.f")
    with pytest.raises(ValueError):
        Mod.f()
    assert left == ["pb-span-0"] and rec.spans[0].end > rec.spans[0].start
