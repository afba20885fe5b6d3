"""The event-log parser on a small canned log: one warm-up job, one timed
kernel job with a straggler task, one timed checkpoint job with a shuffle."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.json")


@pytest.fixture(scope="module")
def events():
    return eventlog.read(LOG)


def test_phase_filter_excludes_warmup(events):
    s = eventlog.summarize(events, phase="timed")
    assert (s.jobs, s.stages, s.tasks) == (2, 3, 6)
    assert s.executor_cpu_s == pytest.approx(7.0)
    assert s.gc_s == pytest.approx(0.05)
    assert s.input_mb == pytest.approx(8.0)
    assert s.output_mb == pytest.approx(4.0)
    assert s.shuffle_write_mb == pytest.approx(3.0)
    assert s.spill_mb == pytest.approx(1.0)


def test_all_jobs_without_filter(events):
    s = eventlog.summarize(events)
    assert (s.jobs, s.tasks) == (3, 7)
    assert s.input_mb == pytest.approx(15.0)


def test_python_metrics_convert_by_plan_metric_type(events):
    d = eventlog.summarize(events, phase="timed").as_dict()
    assert d["python_run_s"] == pytest.approx(6.0)      # ms -> s
    assert d["python_start_s"] == pytest.approx(0.6)    # start + init
    assert d["to_python_mb"] == pytest.approx(4.0)
    assert d["from_python_mb"] == pytest.approx(2.0)


def test_task_skew_is_max_over_median_in_kernel_stage(events):
    s = eventlog.summarize(events, phase="timed")
    assert s.task_skew == pytest.approx(4.0)


def test_step_filter_counts_checkpoint_jobs(events):
    s = eventlog.summarize(events, phase="timed", step="checkpoint")
    assert (s.jobs, s.stages, s.tasks) == (1, 2, 2)
    assert s.python["time to run Python workers"] == 0.0
    assert eventlog.summarize(events, phase="warmup").jobs == 1


def test_job_time_is_the_union_of_overlapping_jobs(events):
    # timed jobs run 1.0-5.0 s and 4.5-7.5 s; the warm-up job 0-0.9 s
    assert eventlog.summarize(events, phase="timed").jobs_s == \
        pytest.approx(6.5)
    assert eventlog.summarize(events).jobs_s == pytest.approx(7.4)
