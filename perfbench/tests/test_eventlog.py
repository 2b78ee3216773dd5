import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def log():
    # captured from a two-core local session: one groupBy/collect under job
    # group pb-1 (two jobs, shuffle), then an unlabelled count (two jobs)
    return eventlog.read_dir(DATA)


def test_jobs_and_groups(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert eventlog.jobs_per_group(log) == {"pb-1": 2, None: 2}
    assert all(j.succeeded for j in log.jobs.values())
    assert log.jobs[1].stage_ids == [1, 2]


def test_task_metrics(log):
    assert len(log.tasks) == 6
    t = log.tasks[0]
    assert (t.stage_id, t.run_ms, t.gc_ms, t.shuffle_write_bytes) == (0, 188, 16, 182)
    assert t.scheduler_delay_ms == (148731 - 148453) - (188 + 48 + 11)


def test_summarize_window(log):
    everything = eventlog.summarize(log, 0, 2e12, cores=2)
    assert everything["spark.jobs"] == 4
    assert everything["spark.tasks"] == 6
    assert everything["spark.stages"] == 4
    assert everything["spark.executor_run_s"] == pytest.approx((188 + 189 + 72 + 27 + 31 + 17) / 1e3)
    assert everything["spark.shuffle_write_mb"] == pytest.approx((182 * 2 + 59 * 2) / eventlog.MB)
    assert everything["spark.failed_task_ratio"] == 0.0
    assert 0 < everything["spark.core_busy_share"] <= 1
    # only the labelled collect falls in this window
    first = eventlog.summarize(log, 1792207148000, 1792207149000, cores=2)
    assert (first["spark.jobs"], first["spark.tasks"]) == (2, 3)
    assert 0 <= first["spark.no_job_share"] < 1
