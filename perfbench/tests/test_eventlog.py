"""The event-log reader on a tiny committed two-file rolling log.

The log (tests/data/eventlog_v2_local-1) has the fields Spark 4.1 writes
for each event kind the reader uses: two jobs in a build group (one
re-running a Python node, one overlapping the other in time), one job
in an action group with a broadcast exchange whose plan AQE replans,
and one job outside any group.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from eventlog import COUNTERS, _union_s, group_counters, read_events  # noqa: E402

LOG = Path(__file__).with_name("data") / "eventlog_v2_local-1"


@pytest.fixture(scope="module")
def groups() -> dict[str, dict[str, float]]:
    return group_counters(read_events(LOG))


def test_reads_rolled_files_in_order_and_skips_status_files():
    events = list(read_events(LOG))
    assert events[0]["Event"] == "SparkListenerLogStart"
    assert events[-1]["Event"] == "SparkListenerJobEnd"
    assert sum(e["Event"] == "SparkListenerJobStart" for e in events) == 4


def test_rolled_files_sort_numerically(tmp_path):
    for n in (10, 2, 1):
        (tmp_path / f"events_{n}_app").write_text(f'{{"Event": "E{n}"}}\n')
    assert [e["Event"] for e in read_events(tmp_path)] == ["E1", "E2", "E10"]


def test_groups_found(groups):
    assert set(groups) == {"cold/op_a/build", "cold/op_a/action", ""}
    assert all(set(c) == set(COUNTERS) for c in groups.values())


def test_build_group_counters(groups):
    b = groups["cold/op_a/build"]
    assert b["jobs"] == 2
    assert b["stages"] == 2  # stage 1 of job 0 never ran
    assert b["tasks"] == 2
    assert b["busy_s"] == pytest.approx(0.3)  # [1000, 1200] and [1150, 1300] overlap
    assert b["executor_run_s"] == pytest.approx(0.17)
    assert b["executor_cpu_s"] == pytest.approx(0.11)
    assert b["executor_gc_s"] == pytest.approx(0.005)
    assert b["sched_delay_s"] == pytest.approx(0.018)
    assert b["scan_input_bytes"] == 4096
    # the Python node's accumulator reads 100 then 250 ms: 250 ms in all
    assert b["pyudf_boot_s"] == pytest.approx(0.25)
    assert b["pyudf_bytes_sent"] == 2048
    assert b["broadcast_bytes"] == 0


def test_action_group_counters(groups):
    a = groups["cold/op_a/action"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 2)
    assert a["busy_s"] == pytest.approx(0.3)
    # task 3 spent its last 10 ms fetching the result
    assert a["sched_delay_s"] == pytest.approx(0.08)
    assert a["shuffle_write_bytes"] == 1000
    assert a["shuffle_read_bytes"] == 1000
    assert a["shuffle_fetch_wait_s"] == pytest.approx(0.015)
    assert a["spill_disk_bytes"] == 512
    # last "data size" of the first exchange (6000) plus the replanned one
    # (100); "time to build" is not a size or row count
    assert a["broadcast_bytes"] == 6100
    assert a["broadcast_rows"] == 42
    assert a["pyudf_boot_s"] == 0


def test_ungrouped_jobs_filed_under_empty_group(groups):
    u = groups[""]
    assert (u["jobs"], u["tasks"]) == (1, 1)
    assert u["busy_s"] == pytest.approx(0.06)


@pytest.mark.parametrize(
    "intervals, seconds",
    [
        ([], 0.0),
        ([(0, 1000)], 1.0),
        ([(0, 1000), (500, 1500)], 1.5),
        ([(0, 1000), (200, 300)], 1.0),
        ([(2000, 2500), (0, 1000)], 1.5),
    ],
)
def test_union_of_job_intervals(intervals, seconds):
    assert _union_s(intervals) == pytest.approx(seconds)
