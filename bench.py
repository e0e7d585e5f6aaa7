#!/usr/bin/env python
"""Headline-query benchmark.

Runs the flagship analytical queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "default_parallelism": ...,
"master": ..., "codegen": {"compilations": ..., "compile_ms": ...}}.
`codegen` counts the Janino compilations of the timed loop;
$SPARK_GRAFT_CPUS defaults to the usable cores.

Each query is fully materialized through the `noop` sink (forces the
whole plan, no driver collect). At sf0.1 the plans are all-broadcast
single-stage and wall clock is dominated by planning + codegen +
machine-load noise — a SINGLE JVM's timings carry ±0.8 s of ambient
spread on identical plans (round 6 recorded a phantom "21% regression"
that three fresh-JVM runs in round 7 showed was noise). So the default
headline method is now min-of-N-fresh-JVMs: the outer process re-execs
itself BENCH_JVM_REPS times (default 3), each child starts a fresh JVM
and reports min-of-BENCH_REPS per query, and the outer line merges the
per-query MIN across children (run-to-run spread of the child totals:
~1% on an idle machine — r7 recorded 4.25/4.23/4.24 — and up to ~20%
under ambient load, which is exactly what the per-query min absorbs).
The merged line carries the per-child totals in "runs" so single-run
noise is visible without a re-run.

BENCH_JVM_REPS=1 restores the old single-JVM behavior. BENCH_ALL=1
times every registered query once in one JVM (the full-registry sweep;
fresh-JVM repetition would triple a ~6 min run for no decision value).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "join_star_wide",
    "join_sector_count",
    "agg_count_2keys",
    "agg_monthly_growth",
    "topk_hard_skills",
    "topk_companies",
    "agg_count_distinct",
    "join_skill_profile",
]


def run_once(sf_dir: str, sf: float) -> dict:
    """Time the query set in THIS process (one JVM); return the result
    dict. Headline queries run BENCH_REPS times (default 2) and report
    the per-query min within the JVM."""
    from job_market_research_spark.registry import load_all
    from job_market_research_spark.session import get_spark

    specs = load_all()
    names = (
        sorted(specs)
        if os.environ.get("BENCH_ALL")
        else [n for n in HEADLINE if n in specs]
    )

    spark = get_spark(app_name="jmrs-bench")
    # JVM + first-plan warmup so timings measure the queries, not startup.
    specs[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Machine-load canary: a CONSTANT-size generated workload (no file
    # I/O, no plan that ever changes round-to-round). Its wall clock
    # moves only with ambient machine load + JVM health, so cross-round
    # headline comparisons can be normalized (headline/canary) instead
    # of burning a round adjudicating drift (this happened in r6 AND
    # r8). Timed min-of-2 after its own codegen warmup.
    def _canary_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s", "count(*) AS n"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    _canary_once()  # codegen warmup
    canary = round(min(_canary_once() for _ in range(2)), 4)

    # IO canary: a CONSTANT file-scan workload (full lineitem pass,
    # trivial agg — the plan never changes round-to-round). The CPU
    # canary above is deliberately blind to storage: r10-r12 sweeps
    # repeatedly measured uniform 1.3-1.4x per-query inflation from
    # page-cache/IO drift that the CPU canary barely registered, which
    # reads as a phantom regression. Recording both lets cross-round
    # comparisons separate compute drift from IO drift.
    def _io_canary_once() -> float:
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).selectExpr(
            "sum(l_orderkey) AS s", "count(*) AS n"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    _io_canary_once()  # reader warmup
    io_canary = round(min(_io_canary_once() for _ in range(2)), 4)

    reps = 1 if os.environ.get("BENCH_ALL") else int(os.environ.get("BENCH_REPS", "2"))
    compiles0, compile_ns0 = codegen_counters(spark)
    timings: dict[str, float] = {}
    if os.environ.get("BENCH_ALL"):
        # r16 verdict item 5: force each named shared staged frame
        # BEFORE the sorted query loop and time the build as its own
        # `stage:<name>` row — family rows then measure per-query work
        # instead of fronting whichever shared build sweep order lands
        # on them (SCALE.md "Sweep-order artifact"). Additions-only
        # per the bench contract: existing query entries keep their
        # names and the timing methodology is unchanged; cross-round
        # totals stay comparable because the build cost relocates
        # within the sweep rather than leaving it. Each stage row is
        # attributed to its builder's module in family_sums so the
        # family sums remain the stable cross-round comparison.
        timings.update(_stage_rows(spark, sf_dir))
    for name in names:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)

    compiles1, compile_ns1 = codegen_counters(spark)
    codegen = {
        "compilations": compiles1 - compiles0,
        "compile_ms": round((compile_ns1 - compile_ns0) / 1e6, 1),
    }
    sc = spark.sparkContext
    default_parallelism, master = sc.defaultParallelism, sc.master

    total = round(sum(timings.values()), 4)
    spark.stop()
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "canary": canary,
        "io_canary": io_canary,
        "sf": sf,
        "versions": _versions(),
        "default_parallelism": default_parallelism,
        "master": master,
        "codegen": codegen,
    }
    if os.environ.get("BENCH_ALL"):
        # Cross-round sweep comparability (r14 verdict item 4): state
        # the iteration order in the artifact, and record per-FAMILY
        # (defining module) sums — staged frames are built lazily by
        # whichever family member first forces them in sweep order, so
        # individual cache-riding rows re-attribute the shared build
        # cost whenever a family gains a member; the family sum is the
        # stable cross-round row.
        out["order"] = "stages-first, then name-sorted"
        fams: dict[str, float] = {}
        for name, secs in timings.items():
            if name.startswith("stage:"):
                mod = _STAGE_BUILDERS[name.split(":", 1)[1]][0]
            else:
                mod = specs[name].fn.__module__.replace(
                    "job_market_research_spark.", ""
                )
            fams[mod] = fams.get(mod, 0.0) + secs
        out["family_sums"] = {m: round(s, 4) for m, s in sorted(fams.items())}
    return out


def codegen_counters(spark) -> tuple[int, int]:
    """(Janino compilations, their total ns) so far in this JVM, from
    the JVM-wide counters every compile updates. A warm loop that still
    compiles is missing Spark's compiled-class cache."""
    jvm = spark._jvm
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime(),
    )


#: Named shared staged frames (staging.staged_frame keys built by
#: module-level builders): stage label -> (owning family module, builder
#: attribute). Query-LOCAL round frames (k-core/BFS/HITS iterations,
#: logreg betas1, lttb sizing) are deliberately absent — they belong to
#: one query and SHOULD stay in its row.
_STAGE_BUILDERS: dict[str, tuple[str, str]] = {
    "daily_revenue": ("plans.timeseries", "staged_daily_revenue"),
    "ws_tcounts": ("ml.ir", "staged_ws_tcounts"),
    "ws_doclen": ("ml.ir", "staged_ws_doclen"),
    "graph_und": ("ml.graph", "staged_und"),
    "lpa_labels": ("ml.graph", "staged_lpa_labels"),
    "embeddings_nrm": ("ml.similarity", "staged_embeddings"),
    "shingles_n3": ("ml.neardup", "staged_shingles"),
    "minhash_bands": ("ml.neardup", "staged_minhash_bands"),
    "shingle_profiles": ("ml.neardup", "staged_shingle_profiles"),
    "winnow_fps": ("ml.neardup", "staged_winnow_fps"),
    "basket_arrays": ("plans.analytics", "staged_basket_arrays"),
    "lm_per_doc": ("functions.text", "staged_lm_per_doc"),
}


def _stage_rows(sparkSession, sf_dir: str) -> dict[str, float]:
    """Force + time each named shared staged build (noop sink per
    guide §1.4, so the persist is fully materialized and read once)."""
    import importlib

    rows: dict[str, float] = {}
    for label, (mod, attr) in _STAGE_BUILDERS.items():
        builder = getattr(
            importlib.import_module(f"job_market_research_spark.{mod}"), attr
        )
        sparkSession.sparkContext.setJobDescription(f"stage:{label}")
        t0 = time.perf_counter()
        builder(sparkSession, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        rows[f"stage:{label}"] = round(time.perf_counter() - t0, 4)
    sparkSession.sparkContext.setJobDescription(None)
    return rows


def _versions() -> dict[str, str]:
    """Engine versions, stamped into every bench line so driver-vs-repo
    environment skew (e.g. DuckDB decimal-round tie behavior in the
    oracle) is adjudicable from the recorded artifacts alone."""
    import platform

    import duckdb
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    jvm_reps = 1 if os.environ.get("BENCH_ALL") else int(
        os.environ.get("BENCH_JVM_REPS", "3")
    )
    if os.environ.get("BENCH_INNER") or jvm_reps <= 1:
        print(json.dumps(run_once(sf_dir, sf)))
        return

    # Fresh-JVM repetition: re-exec this script so each run pays (and
    # discards) its own JVM startup, codegen cache, and page-cache state.
    runs: list[dict] = []
    for _ in range(jvm_reps):
        env = dict(os.environ, BENCH_INNER="1")
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
        # The child's stdout can carry stray lines AFTER the JSON (Ivy
        # resolution / JVM shutdown messages occasionally reach stdout)
        # — scan in reverse for the first line that parses.
        for line in reversed(out.stdout.strip().splitlines()):
            try:
                parsed = json.loads(line)
            except json.JSONDecodeError:
                continue
            # a stray numeric/log line can parse as valid JSON — only
            # accept the child's actual result object
            if isinstance(parsed, dict) and "queries" in parsed:
                runs.append(parsed)
                break
        else:
            raise RuntimeError(
                f"no JSON line in child stdout:\n{out.stdout[-2000:]}"
            )

    print(json.dumps(merge_runs(runs, sf, jvm_reps)))


def merge_runs(runs: list[dict], sf: float, jvm_reps: int) -> dict:
    """Merge per-child fresh-JVM results: per-query MIN, canary MIN
    over the children that actually carried one (min(.., inf) on a
    canary-less child would emit the non-JSON token Infinity and break
    downstream parsers). Unit-tested in tests/test_bench_merge.py."""
    merged: dict[str, float] = {}
    for name in runs[0]["queries"]:
        merged[name] = min(r["queries"][name] for r in runs)
    cs = [r["canary"] for r in runs if r.get("canary") is not None]
    ios = [r["io_canary"] for r in runs if r.get("io_canary") is not None]
    # All fresh-JVM children must have run under ONE environment — a
    # version skew across children would otherwise hide inside the
    # merged per-query minima (each min could come from a different
    # engine build).
    vsets = {
        json.dumps(r["versions"], sort_keys=True)
        for r in runs
        if "versions" in r
    }
    if len(vsets) > 1:
        raise RuntimeError(f"children ran under different versions: {vsets}")
    # A child that omits the stamp entirely (older child protocol)
    # must not let a partial stamp masquerade as a verified-uniform
    # run — record the gap in the merged artifact.
    unstamped = sum(1 for r in runs if "versions" not in r)
    if unstamped:
        sys.stderr.write(
            f"bench: {unstamped}/{len(runs)} children carried no "
            "'versions' stamp; uniformity only partially verified\n"
        )
    return {
        **({"versions_unstamped_children": unstamped} if unstamped else {}),
        "metric": "headline_queries_total_wall",
        "value": round(sum(merged.values()), 4),
        "unit": "sec",
        "queries": merged,
        "canary": min(cs) if cs else None,
        "io_canary": min(ios) if ios else None,
        "sf": sf,
        "jvm_reps": jvm_reps,
        "runs": [r["value"] for r in runs],
        "canaries": [r.get("canary") for r in runs],
        "versions": next(
            (r["versions"] for r in runs if "versions" in r), _versions()
        ),
        # every child is built by the same get_spark call
        "default_parallelism": runs[0].get("default_parallelism"),
        "master": runs[0].get("master"),
        # per child, in "runs" order
        "codegen": {
            k: [r.get("codegen", {}).get(k) for r in runs]
            for k in ("compilations", "compile_ms")
        },
    }


if __name__ == "__main__":
    main()
