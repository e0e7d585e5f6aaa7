"""One measured Spark process: set up, warm up, run the timed window.

Started by run.py with one JSON argument (the run's configuration) and
the checkout root as working directory. Writes its raw observations —
per-operation timings, failures, the environment stamp and, when
tracing, the per-layer readings — as JSON to the path it was given.
run.py turns them into metrics.

Tracing times the calls the benchmark makes into each layer's public
entry points, from outside the program: `session.get_spark`,
`registry.load_all`, each `fn(spark, sf_dir)`, the staged frames that
call registered, the DataFrame's `queryExecution()` phases, and the
materialization (noop write or collect). Executor-side counters come
from the Spark event log, summarized by run.py after the JVM exits.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from workloads import WORKLOADS, order  # noqa: E402

CLK_TCK = os.sysconf("SC_CLK_TCK")
#: Untimed sequential passes a warm workload runs after its warm-up load.
WARM_PASSES = 1


def _tree(pid: int) -> list[int]:
    """`pid` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used by the process tree: user + system time of every
    live process, plus what their reaped children used."""
    ticks = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    kb = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _dir_written_since(path: str, since: float) -> tuple[int, int]:
    """(bytes, files) of files under `path` modified at or after `since`."""
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            if st.st_mtime >= since:
                nbytes += st.st_size
                nfiles += 1
    return nbytes, nfiles


def _phases_ms(df) -> dict[str, int]:
    """Catalyst analysis/optimization/planning ms of `df`'s own
    QueryExecution, forcing it to plan first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out


def _stamp(spark, nproc: int, sf_dir: str) -> dict:
    """Environment stamp; refuses a session whose parallelism is not nproc."""
    import platform

    import duckdb
    import pyspark

    sc = spark.sparkContext
    if sc.defaultParallelism != nproc:
        raise SystemExit(
            f"defaultParallelism {sc.defaultParallelism} != nproc {nproc}: refusing to report"
        )
    return {
        "nproc": nproc,
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "versions": {
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
        },
        "sf_dir": os.path.relpath(sf_dir, ROOT),
    }


def _canaries(spark, nproc: int, sf_dir: str) -> dict[str, float]:
    """Fixed-size CPU and scan jobs, second of two runs each, so the
    figures of one run can be read against the machine's state."""

    def timed(build) -> float:
        best = []
        for _ in range(2):
            t = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            best.append(time.perf_counter() - t)
        return best[-1]

    cpu = timed(
        lambda: spark.range(0, 20_000_000, 1, nproc).selectExpr("sum(id % 7) AS s", "count(*) AS n")
    )
    io = timed(
        lambda: spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).selectExpr(
            "sum(l_orderkey) AS s", "count(*) AS n"
        )
    )
    return {"cpu_canary_s": cpu, "io_canary_s": io}


class Runner:
    """Runs and records the operations of one workload in one session."""

    def __init__(self, spark, specs, sf_dir: str, trace: bool):
        from job_market_research_spark import io as jio
        from job_market_research_spark import staging
        from job_market_research_spark.sources.readers import SCRATCH

        self.spark, self.specs = spark, specs
        self.sf_dir, self.trace = sf_dir, trace
        self.jio, self.staging = jio, staging
        self.scratch = os.path.join(SCRATCH, f"pid{os.getpid()}")
        self.attempted = 0
        self.failures: list[dict] = []
        self._tally = threading.Lock()

    def run(self, name: str, desc: str, unit: str) -> dict | None:
        """One operation: returns its record, or None when it failed."""
        sc = self.spark.sparkContext
        with self._tally:
            self.attempted += 1
        sc.setJobDescription(desc)
        rec: dict = {"name": name, "desc": desc}
        staged_before = set(self.staging._STAGE_CACHE)
        io_before = len(self.jio._DF_CACHE)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            df = self.specs[name].fn(self.spark, self.sf_dir)
            t_fn = time.perf_counter()
            if self.trace:
                rec["fn_s"] = t_fn - t0
                rec["stage_build_s"] = 0.0
                new = [k for k in self.staging._STAGE_CACHE if k not in staged_before]
                for k in new:
                    tb = time.perf_counter()
                    self.staging._STAGE_CACHE[k].write.format("noop").mode("overwrite").save()
                    rec["stage_build_s"] += time.perf_counter() - tb
                rec["frames_built"] = len(new)
                rec["phases_ms"] = _phases_ms(df)
                t_fn = time.perf_counter()
            if unit == "noop":
                rows = None
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.collect()
            t1 = time.perf_counter()
            err = None
            if rows is not None:
                expected = oracle.load(self.sf_dir, name)
                err = oracle.mismatch(self.spark, df, rows, expected, name, self.sf_dir)
        except Exception as e:  # one failed operation must not end the run
            t1 = time.perf_counter()
            err = f"{type(e).__name__}: {str(e)[:500]}"
        finally:
            sc.setJobDescription(None)
        if err is not None:
            with self._tally:
                self.failures.append({"name": name, "desc": desc, "error": err})
            return None
        rec["s"] = t1 - t0
        rec["interval_ms"] = (wall0 * 1000.0, wall0 * 1000.0 + (t1 - t0) * 1000.0)
        if self.trace:
            rec["exec_s"] = t1 - t_fn
            rec["io_tables_planned"] = len(self.jio._DF_CACHE) - io_before
            rec["sink_bytes"], rec["sink_files"] = _dir_written_since(self.scratch, wall0)
        return rec


def main() -> None:
    cfg = json.loads(sys.argv[1])
    wl = WORKLOADS[cfg["workload"]]
    nproc, sf_dir, trace = cfg["nproc"], cfg["sf_dir"], bool(cfg["trace"])

    from job_market_research_spark import registry, session

    extra = {}
    if trace:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": cfg["eventlog_dir"],
            "spark.eventLog.compress": "false",
        }
    t0 = time.monotonic()
    spark = session.get_spark(app_name=f"perfbench-{wl.name}", extra_conf=extra)
    t1 = time.monotonic()
    specs = registry.load_all()
    t2 = time.monotonic()
    out: dict = {
        "env": _stamp(spark, nproc, sf_dir),
        "session_start_s": t1 - t0,
        "load_all_s": t2 - t1,
    }
    runner = Runner(spark, specs, sf_dir, trace)
    names = order(wl, cfg["seed"])
    if wl.warm:
        # Warm-up loads every chart at once, as a dashboard does; each
        # result is checked against its oracle.
        with ThreadPoolExecutor(max_workers=nproc) as pool:
            for fut in [pool.submit(runner.run, n, f"warm|{n}", "collect") for n in names]:
                fut.result()
        # Then passes as the window runs them, untimed, until the JIT has
        # compiled the charts' hot paths: the first sequential passes
        # are up to a third slower than the later ones.
        for p in range(WARM_PASSES):
            for name in names:
                runner.run(name, f"warm{p}|{name}", wl.unit)

    setup_end = time.monotonic()
    out["setup_s"] = setup_end - cfg["spawn_monotonic"]
    out["setup_mono"] = (cfg["spawn_monotonic"], setup_end)
    pid = os.getpid()
    cpu0 = tree_cpu_s(pid)
    w0 = time.monotonic()
    passes = 0
    ops = []
    while True:
        for name in names:
            rec = runner.run(name, f"w|{name}|{passes}", wl.unit)
            if rec is not None:
                rec["pass"] = passes
                ops.append(rec)
        passes += 1
        if not wl.warm or time.monotonic() - w0 >= cfg["seconds"]:
            break
    w1 = time.monotonic()
    out["window_s"] = w1 - w0
    out["window_mono"] = (w0, w1)
    out["cpu_s"] = tree_cpu_s(pid) - cpu0
    out["peak_rss_mb"] = tree_peak_rss_mb(pid)
    out["passes"] = passes
    out["env"].update(_canaries(spark, nproc, sf_dir))
    out.update(attempted=runner.attempted, failures=runner.failures, ops=ops)

    from pyspark import SparkContext

    spark.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)
    with open(cfg["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
