import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")
INTERVALS = {"w|a|0": (900.0, 1900.0), "w|b|0": (1950.0, 3000.0)}


def summary():
    return eventlog.summarize(eventlog.read_events([FIXTURE]), INTERVALS)


def test_jobs_keyed_by_description_and_outside_jobs_ignored():
    s = summary()
    assert set(s) == {"w|a|0", "w|b|0"}  # the warm-up job at t=500 is in no interval


def test_task_metrics_are_summed_per_operation():
    a = summary()["w|a|0"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert a["executor_run_ms"] == 35
    assert a["executor_cpu_ns"] == 6_000_000
    assert a["gc_ms"] == 1
    assert a["input_bytes"] == 300
    assert a["shuffle_read_bytes"] == 110  # local 70 + remote 40
    assert a["shuffle_write_bytes"] == 110
    assert a["spill_bytes"] == 24  # memory 8 + disk 16
    assert a["pyworker_run_ms"] == 0


def test_foreign_description_falls_back_to_the_enclosing_interval():
    b = summary()["w|b|0"]
    # its own job plus the streaming micro-batch submitted at t=2500;
    # stage 5 of that job never ran, so it is not counted
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 2)
    assert b["executor_run_ms"] == 37
    assert b["input_bytes"] == 300


def test_python_worker_accumulables():
    b = summary()["w|b|0"]
    assert b["pyworker_boot_ms"] == 6
    assert b["pyworker_init_ms"] == 700
    assert b["pyworker_run_ms"] == 400
    assert b["pyworker_bytes_sent"] == 1000
    assert b["pyworker_bytes_received"] == 2000


def test_event_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1", ".events_2_local-1.crc"):
        (d / name).write_text("")
    assert [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))] == [
        "events_2_local-1",
        "events_10_local-1",
    ]
