"""The traced run's check of its own job-group tagging, on the committed
tiny event log (see test_eventlog.py): its build group ran jobs for
0.3 s, its action group for 0.3 s, and one job ran outside any group."""

from __future__ import annotations

import argparse
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from eventlog import group_counters, read_events  # noqa: E402
from run import Run  # noqa: E402

LOG = Path(__file__).with_name("data") / "eventlog_v2_local-1"
WL = SimpleNamespace(ops=("op_a",))


def traced_run(span: tuple[float, float], groups: dict, run: Run | None = None) -> Run:
    """Check a cold and a warm pass that both ran op_a as `span`, with the
    log's op_a groups standing for both passes."""
    run = run or Run(argparse.Namespace(seed=1, trace=1), Path("."), Path("."))
    groups = groups | {g.replace("cold/", "warm1/"): c for g, c in groups.items() if g}
    run.spans = {"cold": {"op_a": span}, "warm1": {"op_a": span}}
    run.per_layer(groups, WL)
    run.check_trace(groups)
    return run


@pytest.fixture(scope="module")
def groups() -> dict[str, dict[str, float]]:
    return group_counters(read_events(LOG))


def test_tagged_span_passes_and_ungrouped_job_fails_once(groups):
    run = traced_run((0.5, 0.5), groups)
    assert run.per_op["warm1"]["op_a"]["driver.idle_s"] == pytest.approx(0.4)
    assert (run.attempted, run.failed) == (1, 1)


def test_span_shorter_than_its_jobs_fails(groups):
    no_stray = {g: c for g, c in groups.items() if g}
    run = traced_run((0.2, 0.2), no_stray)
    assert (run.attempted, run.failed) == (1, 2)


def test_action_without_jobs_fails(groups):
    untagged_action = {g: c for g, c in groups.items() if g and not g.endswith("/action")}
    run = traced_run((0.5, 0.5), untagged_action)
    assert run.failed == 2


def test_span_counted_once_when_its_check_failed_too(groups):
    no_stray = {g: c for g, c in groups.items() if g}
    run = Run(argparse.Namespace(seed=1, trace=1), Path("."), Path("."))
    run._fail("digest mismatch", "cold/op_a")
    traced_run((0.2, 0.2), no_stray, run)
    assert run.failed == 2  # cold/op_a once, warm1/op_a once
