from pathlib import Path

import pytest

from perfbench import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"


@pytest.fixture(scope="module")
def totals():
    with open(FIXTURE) as f:
        return eventlog.parse(f, lambda g: g.startswith("pb|"))


def test_only_selected_job_groups_count(totals):
    assert totals["exec.jobs"] == 2
    assert totals["exec.stages"] == 3
    assert totals["exec.tasks"] == 3  # the pbx| counting job's task is left out
    assert totals["jobs.build"] == 1 and totals["jobs.force"] == 1


def test_task_metrics_are_summed_in_seconds_and_mib(totals):
    assert totals["exec.failed_tasks"] == 1
    assert totals["exec.task_run_s"] == pytest.approx(1.8)
    assert totals["exec.task_cpu_s"] == pytest.approx(0.85)
    assert totals["exec.gc_s"] == pytest.approx(0.015)
    assert totals["exec.shuffle_write_mb"] == pytest.approx(1.0)
    assert totals["exec.shuffle_read_mb"] == pytest.approx(1.0)
    assert totals["exec.fetch_wait_s"] == pytest.approx(0.02)
    assert totals["exec.spill_mb"] == pytest.approx(2.0)
    assert totals["io.scan_mb"] == pytest.approx(3.0)


def test_job_time_is_the_union_of_job_intervals(totals):
    # build job 2.0-3.0 s and force job 2.5-4.0 s overlap by 0.5 s
    assert totals["exec.s"] == pytest.approx(2.0)


def test_python_accumulators_are_summed_from_bytes_and_ms(totals):
    assert totals["python.sent_mb"] == pytest.approx(2.0)
    assert totals["python.run_s"] == pytest.approx(1.5)
    assert totals["python.start_s"] == pytest.approx(0.25)
    assert totals["python.returned_mb"] == 0.0
    assert totals["python.init_s"] == 0.0


def test_nothing_selected_gives_zeros():
    with open(FIXTURE) as f:
        totals = eventlog.parse(f, lambda g: False)
    assert totals["exec.jobs"] == 0 and totals["exec.s"] == 0.0
    assert totals["python.sent_mb"] == 0.0


def test_app_lines_reads_rolling_and_single_file_logs(tmp_path):
    rolling = tmp_path / "eventlog_v2_app-1"
    rolling.mkdir()
    (rolling / "appstatus_app-1").write_text("")
    (rolling / "events_2_app-1").write_text("b\n")
    (rolling / "events_10_app-1").write_text("c\n")
    (rolling / "events_1_app-1").write_text("a\n")
    assert list(eventlog.app_lines(tmp_path, "app-1")) == ["a\n", "b\n", "c\n"]
    (tmp_path / "app-2").write_text("x\n")
    assert list(eventlog.app_lines(tmp_path, "app-2")) == ["x\n"]
