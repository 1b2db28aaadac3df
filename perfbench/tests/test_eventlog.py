"""The event-log parser, on a small committed log of one application:
a streaming micro-batch job, a Python-worker job and two concurrent jobs
that share a skipped stage."""

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse([FIXTURE])


def test_counts(log):
    assert sorted(j[1] for j in log["jobs"]) == [11, 15, 20, 21]
    assert sorted(s[1] for s in log["stages"]) == [11, 12, 17, 24, 25]
    assert len(log["tasks"]) == 26
    assert len(log["progress"]) == 1


def test_job_groups_and_times(log):
    jobs = log["jobs"]
    assert jobs[(0, 15)]["group"] == "g1"
    # micro-batch jobs carry the stream's run id, not the caller's group
    assert jobs[(0, 11)]["group"] == "68212f55-dda1-4f9b-a940-1c75665fb70b"
    for job in jobs.values():
        assert job["end"] >= job["submit"]


def test_stage_runs_in_its_first_job(log):
    stages = log["stages"]
    assert stages[(0, 12)]["job"] == (0, 11)
    assert stages[(0, 24)]["job"] == (0, 20)
    assert stages[(0, 25)]["job"] == (0, 21)
    # stage 23 is listed by jobs 20 and 21 but was skipped, never submitted
    assert (0, 23) not in stages


def test_task_metrics(log):
    tasks = log["tasks"]
    assert sum(t["run_ms"] for t in tasks) == 9011
    assert sum(t["shuffle_write_bytes"] for t in tasks) == 104412
    assert sum(t["input_rows"] for t in tasks) == 10500
    assert all(t["cpu_ns"] >= 0 and t["finish"] >= t["launch"] for t in tasks)


def test_python_accumulables(log):
    py = [t for t in log["tasks"] if t["stage"] == (0, 17)]
    assert len(py) == 1
    t = py[0]
    # three pipelined Python operators, one worker each: their busy
    # times add up (and may exceed the task's own run time)
    assert t["python_boot_ms"] == 1203 + 9 + 5
    assert t["python_init_ms"] == 714 + 678 + 585
    assert t["python_run_ms"] == 1938 + 778 + 803
    assert t["python_sent_bytes"] == 6416 + 293720 + 129440
    assert t["python_received_bytes"] == 293528 + 129248 + 10272


def test_scheduler_delay_is_bounded_by_wall_time(log):
    for t in log["tasks"]:
        delay = eventlog.scheduler_delay_ms(t)
        assert 0 <= delay <= (t["finish"] - t["launch"]) * 1000


def test_progress_event(log):
    p = log["progress"][0]
    assert p["durationMs"]["triggerExecution"] == 4207
    assert p["sources"][0]["numInputRows"] == 10000
    assert p["stateOperators"][0]["commitTimeMs"] == 977


def test_torn_last_line_is_ignored(tmp_path):
    path = tmp_path / "app"
    with open(FIXTURE) as src:
        path.write_text(src.read() + '{"Event": "SparkListenerTaskEnd", "Stage')
    assert len(eventlog.parse([str(path)])["tasks"]) == 26


def test_ids_are_qualified_by_log_file(tmp_path):
    for name in ("app-1", "app-2"):
        with open(FIXTURE) as src:
            (tmp_path / name).write_text(src.read())
    log = eventlog.parse(eventlog.log_files(str(tmp_path)))
    assert len(log["jobs"]) == 8
    assert {j[0] for j in log["jobs"]} == {0, 1}
