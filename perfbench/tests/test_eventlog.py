"""Event-log parsing against a tiny committed log."""

from pathlib import Path

import pytest

from perfbench import eventlog

LOG = Path(__file__).parent / "data" / "tiny_eventlog.json"


@pytest.fixture(scope="module")
def jobs():
    return eventlog.parse(LOG)


def test_jobs_and_tags(jobs):
    assert [j.job_id for j in jobs] == [0, 1]
    assert jobs[0].has_tag("pb-q0")
    assert not jobs[0].has_tag("q0")
    assert not jobs[1].has_tag("pb-q0")
    assert eventlog.tagged(jobs, "pb-q0") == [jobs[0]]
    assert (jobs[0].submit_ms, jobs[0].end_ms) == (1000, 1200)


def test_task_metrics_are_summed_per_job(jobs):
    j = jobs[0]
    assert j.n_tasks == 2
    assert j.get("run_ms") == 110
    assert j.get("cpu_ns") == 85_000_000
    assert j.get("gc_ms") == 5
    assert j.get("shuffle_write_bytes") == 1500
    assert j.get("disk_spill_bytes") == 128


def test_sql_metrics_attributed_by_plan_node(jobs):
    # rows out of the scan node only, not out of the python node above it
    assert jobs[0].scan_rows == 500
    assert jobs[0].get("python_ms") == 45
    assert jobs[1].scan_rows == 0


def test_totals_and_windows(jobs):
    tot = eventlog.totals(jobs)
    assert tot["n_jobs"] == 2 and tot["n_tasks"] == 3
    assert tot["task_cpu_ms"] == pytest.approx(90.0)
    assert tot["spill_bytes"] == 192
    assert eventlog.in_window(jobs, 1100, 2000) == [jobs[1]]
    # jobs cover 1000-1300 with an overlap at 1150-1200
    assert eventlog.busy_ms(jobs, 900, 1400) == 300
    assert eventlog.busy_ms(jobs, 1100, 1250) == 150
    assert eventlog.busy_ms([], 0, 10) == 0


def test_find_log_wants_one_finished_log(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.find_log(tmp_path)
    (tmp_path / "app-1.inprogress").write_text("")
    (tmp_path / "app-2").write_text("")
    assert eventlog.find_log(tmp_path).name == "app-2"
