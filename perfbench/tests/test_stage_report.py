"""Stage report over a tiny committed event log (four jobs, two groups).

    python3 -m pytest perfbench/tests/test_stage_report.py -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stage_report  # noqa: E402

LOG = os.path.join(HERE, "data", "tiny_eventlog")


@pytest.fixture(scope="module")
def log():
    return stage_report.load(LOG)


def test_load_keeps_groups_and_tasks(log):
    assert [(j.job_id, j.group) for j in log.jobs] == [(0, "s5"), (1, "s5"), (2, "s9"), (3, None)]
    assert [len(s.tasks) for s in log.stages] == [2, 1, 1, 1]
    assert log.stages[1].submit_ms == 1500 and log.stages[1].end_ms == 1900


def test_row_per_job_group(log):
    rows = stage_report.report(log)
    assert sorted(rows) == ["s5", "s9"]  # the ungrouped job is left out
    r = rows["s5"]
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 2, 3)
    assert r["busy_s"] == pytest.approx(0.8)
    assert (r["task_max_s"], r["task_median_s"]) == (pytest.approx(0.4), pytest.approx(0.3))
    assert r["task_skew"] == pytest.approx(4 / 3)
    assert (r["shuffle_read_bytes"], r["shuffle_write_bytes"]) == (1500, 1500)
    assert r["gc_s"] == pytest.approx(0.01)
    assert r["python_start_s"] == pytest.approx(0.03)
    assert r["python_run_s"] == pytest.approx(0.3)
    assert r["python_bytes"] == 7500
    # jobs cover [1000, 1450] and [1500, 1950]
    assert r["job_cover_s"] == pytest.approx(0.9)


def test_single_task_stages_over_250ms_are_flagged(log):
    rows = stage_report.report(log)
    assert rows["s5"]["single_task_stages"] == [("save at io.py:2", pytest.approx(0.4))]
    assert rows["s5"]["single_task_stage_s"] == pytest.approx(0.4)
    # a 100 ms single-task stage is not flagged
    assert rows["s9"]["single_task_stages"] == []


def test_checkpoint_stages_and_spill(log):
    r = stage_report.report(log)["s9"]
    assert r["checkpoint_stages"] == 1
    assert r["spill_bytes"] == 3072
    assert stage_report.report(log)["s5"]["checkpoint_stages"] == 0


def test_caller_keys_ungrouped_jobs_by_time(log):
    rows = stage_report.report(log, lambda g, t: g or ("late" if t >= 5000 else None))
    assert sorted(rows) == ["late", "s5", "s9"]
    assert rows["late"]["tasks"] == 1 and rows["late"]["busy_s"] == pytest.approx(0.05)


def test_cli_prints_one_line_per_group(capsys):
    assert stage_report.main([LOG]) == 0
    out = capsys.readouterr().out
    assert out.startswith("(no group): ")
    assert "s5: jobs=2 stages=2 tasks=3" in out
    assert "single-task 'save at io.py:2': 0.400s" in out
