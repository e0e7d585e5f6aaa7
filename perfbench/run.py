#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds the benchmark's inputs on first
use (seed-42 synthetic tables and their DuckDB oracle results, cached
under perfbench/.data/), runs one workload in a fresh worker process
(perfbench/worker.py) pinned to local[nproc], beside a host speed
canary (perfbench/hostspeed.py) by which the times are scaled, checks
every checked operation against its oracle, and prints a report line
and then, as the last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (BENCHMARK.json lists both). Exits 1 when any operation
failed or mismatched its oracle, 2 when the checkout has no engine.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostspeed  # noqa: E402
from workloads import ALL_QUERIES, SF, WORKLOADS  # noqa: E402

DATA_SEED = 42
WORKER_TIMEOUT_S = 150
DRIVER_MEM = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics, all per pass of the timed window unless the name
#: says otherwise -> unit.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_all_s": "s",
    "io.tables_planned": "count",
    "query_fn.s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "staging.frames_built": "count",
    "staging.build_s": "s",
    "pyworker.boot_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.run_ms": "ms",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_received": "bytes",
    "sinks.bytes_on_disk": "bytes",
    "sinks.files": "count",
    **{f"q.{q}.s": "s" for q in ALL_QUERIES},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest(root: str) -> str:
    """Digest of the engine and benchmark sources the oracle cache
    depends on (the oracle SQL lives in the engine's modules)."""
    h = hashlib.sha256()
    for top in ("job_market_research_spark", "perfbench", "tests"):
        for dirpath, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(d for d in dirs if not d.startswith("."))
            for name in sorted(f for f in files if f.endswith(".py")):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()


def prepare_inputs(root: str) -> str:
    """Generate the tables if they are not cached yet and cache every
    workload query's oracle result; returns the data dir."""
    sf_dir = os.path.join(HERE, ".data", f"seed{DATA_SEED}", f"sf{SF}")
    stamp = os.path.join(sf_dir, "oracle", "sources.sha256")
    digest = _source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return sf_dir

    import datagen
    import oracle

    from job_market_research_spark import registry

    if not os.path.isdir(sf_dir):
        tmp = f"{sf_dir}.tmp{os.getpid()}"
        datagen.generate(tmp, float(SF), DATA_SEED)
        try:
            os.rename(tmp, sf_dir)
        except OSError:
            shutil.rmtree(tmp)
            if not os.path.isdir(sf_dir):
                raise
    specs = registry.load_all()
    oracle.build(sf_dir, {q: specs[q].oracle for q in ALL_QUERIES})
    with open(stamp, "w") as f:
        f.write(digest)
    return sf_dir


def _stop_group(pgid: int) -> None:
    """Kill what is left of a process group and wait until none of it
    runs (a killed child of ours stays a zombie until it is waited for)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
                except (OSError, ValueError):
                    continue
                if int(pgrp) == pgid and state != "Z":
                    alive = True
                    break
        if not alive:
            return
        time.sleep(0.1)


def run_worker(root: str, run_dir: str, cfg: dict) -> dict:
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(cfg["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # Every JVM the worker starts (Spark's launcher too) keeps its
        # temporary files inside the checkout; without PerfDisableSharedMem
        # each would map a perf-data file under /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:+PerfDisableSharedMem",
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
    )
    cfg = dict(
        cfg,
        eventlog_dir=os.path.join(run_dir, "eventlog"),
        out=os.path.join(run_dir, "worker.json"),
        spawn_monotonic=time.monotonic(),
    )
    log_path = os.path.join(run_dir, "worker.log")
    canary = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "hostspeed.py")],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        code = _run_logged(root, env, cfg, log_path)
    finally:
        samples = _stop_canary(canary)
    if code != 0 or not os.path.exists(cfg["out"]):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited with {code}; log tail:\n{tail}")
    with open(cfg["out"]) as f:
        raw = json.load(f)
    raw["canary"] = samples
    return raw


def _stop_canary(canary: subprocess.Popen) -> list:
    """Ask the host speed canary for its samples and wait until it has ended."""
    try:
        out, _ = canary.communicate("\n", timeout=10)
        return json.loads(out)
    except (subprocess.TimeoutExpired, ValueError):
        return []
    finally:
        _stop_group(canary.pid)
        canary.wait()


def _run_logged(root: str, env: dict, cfg: dict, log_path: str) -> int | None:
    """Run the worker to its end; returns its exit code, None on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            cwd=root,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    return code


def _per_pass(ops: list[dict], passes: int, key: str) -> float:
    return sum(op.get(key, 0) for op in ops) / passes


def host_canary_s(raw: dict) -> dict[str, float]:
    """Median host speed canary time over the set-up and over the window."""
    return {
        phase: hostspeed.median_between(raw["canary"], *raw[f"{phase}_mono"])
        for phase in ("setup", "window")
    }


def end_to_end(raw: dict) -> dict[str, dict]:
    """End-to-end metrics from a worker's raw observations. Times are
    scaled to the reference host speed by the canary's median over the
    phase they were measured in; `measured` keeps the unscaled value."""
    import stats

    ops, passes = raw["ops"], raw["passes"]
    canary = host_canary_s(raw)
    times = stats.summarize([op["s"] for op in ops])
    by_pass: dict[int, float] = {}
    for op in ops:
        by_pass[op["pass"]] = by_pass.get(op["pass"], 0.0) + op["s"]
    values = {
        "setup_s": (raw["setup_s"], 1, "setup"),
        "op_p50_s": (times["p50"], times["n"], "window"),
        "op_p90_s": (times["p90"], times["n"], "window"),
        "pass_s": (statistics.median(by_pass.values()), passes, "window"),
        "cpu_s": (raw["cpu_s"] / passes, passes, "window"),
        "peak_rss_mb": (raw["peak_rss_mb"], 1, None),
    }
    out = {}
    for k, (v, n, phase) in values.items():
        out[k] = {"value": v, "unit": END_TO_END_UNITS[k], "n": n}
        if phase:
            out[k].update(value=hostspeed.scale(v, canary[phase]), measured=v)
    out["op_p90_s"]["beyond"] = times["above_p90"]
    return out


def per_layer(raw: dict, eventlog_dir: str) -> dict[str, dict]:
    """Per-layer metrics of a traced run: per pass of the timed window."""
    import eventlog

    ops, passes = raw["ops"], raw["passes"]
    summary = eventlog.summarize(
        eventlog.read_events(eventlog.event_files(eventlog_dir)),
        {op["desc"]: tuple(op["interval_ms"]) for op in ops},
    )
    ex = {k: sum(s[k] for s in summary.values()) / passes for k in eventlog.COUNTERS}
    phase = {p: sum(op["phases_ms"].get(p, 0) for op in ops) / passes for p in ("analysis", "optimization", "planning")}
    per_query: dict[str, list[float]] = {}
    for op in ops:
        per_query.setdefault(op["name"], []).append(op["s"])
    values = {
        "session.start_s": raw["session_start_s"],
        "registry.load_all_s": raw["load_all_s"],
        "io.tables_planned": _per_pass(ops, passes, "io_tables_planned"),
        "query_fn.s": _per_pass(ops, passes, "fn_s"),
        "catalyst.analysis_ms": phase["analysis"],
        "catalyst.optimization_ms": phase["optimization"],
        "catalyst.planning_ms": phase["planning"],
        "exec.wall_s": _per_pass(ops, passes, "exec_s"),
        "exec.executor_run_s": ex["executor_run_ms"] / 1e3,
        "exec.executor_cpu_s": ex["executor_cpu_ns"] / 1e9,
        "exec.gc_s": ex["gc_ms"] / 1e3,
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.input_bytes": ex["input_bytes"],
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "exec.spill_bytes": ex["spill_bytes"],
        "staging.frames_built": _per_pass(ops, passes, "frames_built"),
        "staging.build_s": _per_pass(ops, passes, "stage_build_s"),
        "pyworker.boot_ms": ex["pyworker_boot_ms"],
        "pyworker.init_ms": ex["pyworker_init_ms"],
        "pyworker.run_ms": ex["pyworker_run_ms"],
        "pyworker.bytes_sent": ex["pyworker_bytes_sent"],
        "pyworker.bytes_received": ex["pyworker_bytes_received"],
        "sinks.bytes_on_disk": _per_pass(ops, passes, "sink_bytes"),
        "sinks.files": _per_pass(ops, passes, "sink_files"),
        **{f"q.{q}.s": statistics.median(per_query[q]) if q in per_query else 0.0 for q in ALL_QUERIES},
    }
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Terminated, still stop the worker and the canary on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "job_market_research_spark", "registry.py")):
        print(f"no job_market_research_spark package under {root}: run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload]
    sf_dir = prepare_inputs(root)

    run_dir = os.path.join(HERE, ".runs", str(os.getpid()))
    try:
        raw = run_worker(
            root,
            run_dir,
            {
                "workload": wl.name,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "nproc": nproc(),
                "sf_dir": sf_dir,
            },
        )
        e2e = end_to_end(raw) if raw["ops"] else {}
        layers = per_layer(raw, os.path.join(run_dir, "eventlog")) if args.trace and raw["ops"] else {}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(raw["failures"])
    correct = failed == 0 and raw["attempted"] > 0
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "env": raw["env"],
        "passes": raw["passes"],
        "window_s": raw["window_s"],
        "op_error_rate": failed / max(raw["attempted"], 1),
        "host_canary_ms": {k: v * 1e3 for k, v in host_canary_s(raw).items()} if raw["ops"] else {},
        "host_canary_ref_ms": hostspeed.REF_S * 1e3,
        "failures": raw["failures"],
        "end_to_end": e2e,
    }
    print(json.dumps({"report": report}))
    chosen = layers if args.trace else e2e
    metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in chosen.items()}
    print(json.dumps({"correct": correct, "attempted": raw["attempted"], "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
