"""Folding an event log into per-job-group layer metrics."""

from pathlib import Path

import pytest

from eventlog import GroupStats, event_log_lines, fold

FIXTURE = Path(__file__).resolve().parent / "fixtures"


@pytest.fixture
def groups():
    return fold(event_log_lines(str(FIXTURE)), alias={"3f0c-run-id": "taro:streaming.pipeline"})


def test_jobs_and_covered_time_per_group(groups):
    state = groups["taro:plans.state"]
    assert state.jobs == 2
    # jobs [1.0, 3.0] and [2.0, 4.0] overlap: 3.0 s covered, not 4.0
    assert state.job_s == pytest.approx(3.0)
    assert groups["taro:plans.commit"].jobs == 1
    assert groups["taro:plans.commit"].job_s == pytest.approx(0.5)


def test_task_metrics_fold_by_the_stage_that_ran_them(groups):
    state = groups["taro:plans.state"]
    # stage 0 is listed by both jobs but belongs to the job that created it
    assert state.executor_cpu_s == pytest.approx(1.0)
    assert state.shuffle_bytes == 150
    assert state.spill_bytes == 15
    assert groups["taro:plans.commit"].executor_cpu_s == pytest.approx(1.0)


def test_plan_node_output_rows(groups):
    assert groups["taro:plans.state"].node_rows == {"MapInPandas": 100, "Scan parquet ": 25}
    assert groups["taro:plans.commit"].node_rows == {"Scan parquet ": 3}


def test_streaming_run_id_alias_and_ungrouped_jobs(groups):
    assert groups["taro:streaming.pipeline"].jobs == 1
    assert groups["taro:streaming.pipeline"].executor_cpu_s == pytest.approx(2.0)
    assert "3f0c-run-id" not in groups
    assert groups[""].jobs == 1


def test_prefix_difference():
    a = GroupStats(jobs=5, job_s=2.0, executor_cpu_s=3.0, shuffle_bytes=10, spill_bytes=4)
    b = GroupStats(jobs=2, job_s=0.5, executor_cpu_s=1.0, shuffle_bytes=4, spill_bytes=4)
    d = a.minus(b)
    assert (d.jobs, d.job_s, d.executor_cpu_s, d.shuffle_bytes, d.spill_bytes) == (3, 1.5, 2.0, 6, 0)
    assert a.minus(None) is a
