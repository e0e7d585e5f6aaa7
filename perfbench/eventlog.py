"""Summarize a Spark event log into per-operation executor metrics.

Spark writes one JSON object per line. Jobs carry the
`spark.job.description` the benchmark sets before each operation;
tasks carry run time, CPU, GC, scan, shuffle and spill counters, plus
the Python-worker SQL metrics as accumulables. A job whose description
is not one of the benchmark's (a streaming micro-batch sets its own)
is attributed to the operation whose wall-clock interval contains the
job's submission time.

Needs `spark.eventLog.compress=false`: the default zstd codec has no
standard-library reader.
"""

from __future__ import annotations

import glob
import json
import os

#: Task-metric paths summed per operation -> output key.
TASK_METRICS = {
    ("Executor Run Time",): "executor_run_ms",
    ("Executor CPU Time",): "executor_cpu_ns",
    ("JVM GC Time",): "gc_ms",
    ("Input Metrics", "Bytes Read"): "input_bytes",
    ("Shuffle Read Metrics", "Local Bytes Read"): "shuffle_read_bytes",
    ("Shuffle Read Metrics", "Remote Bytes Read"): "shuffle_read_bytes",
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): "shuffle_write_bytes",
    ("Memory Bytes Spilled",): "spill_bytes",
    ("Disk Bytes Spilled",): "spill_bytes",
}

#: Python-worker SQL metrics (task accumulables) -> output key.
PYWORKER_ACCUMS = {
    "time to start Python workers": "pyworker_boot_ms",
    "time to initialize Python workers": "pyworker_init_ms",
    "time to run Python workers": "pyworker_run_ms",
    "data sent to Python workers": "pyworker_bytes_sent",
    "data returned from Python workers": "pyworker_bytes_received",
}

COUNTERS = ("jobs", "stages", "tasks", *dict.fromkeys(TASK_METRICS.values()), *PYWORKER_ACCUMS.values())


def event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under `log_dir`, in
    write order (plain files, or the numbered parts of a rolling log)."""

    def part(path: str) -> int:
        base = os.path.basename(path)
        return int(base.split("_")[1]) if base.startswith("events_") else 0

    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for d in glob.glob(os.path.join(log_dir, "eventlog_v2_*")):
        files += glob.glob(os.path.join(d, "events_*"))
    return sorted(
        (p for p in files if not os.path.basename(p).startswith((".", "appstatus"))),
        key=lambda p: (os.path.dirname(p), part(p)),
    )


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def summarize(events, intervals: dict[str, tuple[float, float]]) -> dict[str, dict[str, int]]:
    """Per-operation counter sums.

    `intervals` maps each operation's job description to its wall-clock
    (start_ms, end_ms). Jobs matching neither a description nor an
    interval are ignored (set-up, warm-up and checks run outside them).
    """
    ordered = sorted(intervals.items(), key=lambda kv: kv[1][0])

    def owner(desc: str | None, submit_ms: float) -> str | None:
        if desc in intervals:
            return desc
        for key, (lo, hi) in ordered:
            if lo <= submit_ms <= hi:
                return key
        return None

    out: dict[str, dict[str, int]] = {}
    stage_owner: dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            key = owner(desc, e.get("Submission Time", 0))
            if key is None:
                continue
            acc = out.setdefault(key, dict.fromkeys(COUNTERS, 0))
            acc["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_owner[sid] = key
        elif kind == "SparkListenerStageCompleted":
            key = stage_owner.get(e["Stage Info"]["Stage ID"])
            if key is not None:
                out[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_owner.get(e.get("Stage ID"))
            if key is None:
                continue
            acc = out[key]
            acc["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            for path, name in TASK_METRICS.items():
                v = tm
                for p in path:
                    v = v.get(p, 0) if isinstance(v, dict) else 0
                acc[name] += int(v)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name = PYWORKER_ACCUMS.get(a.get("Name"))
                if name is not None and a.get("Update") is not None:
                    acc[name] += int(a["Update"])
    return out
