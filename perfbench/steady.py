#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/steady.py --runs 10 [--workload dashboard ...] [--trace 0|1] [--out f.json]

Runs `perfbench/run.py` once per seed (1..runs) for each workload, from
the current directory, with BENCHMARK.json's run_seconds. For every
end-to-end metric it prints the median and the quartile spread
((Q3 - Q1) / median) next to the metric's bound. With --trace 1 the
runs are traced and the end-to-end figures come from their report
lines, so the two outputs compared give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main(argv: list[str]) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write every run's report and result here")
    args = ap.parse_args(argv)

    runs: dict[str, list[dict]] = {}
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, capture_output=True, text=True, check=False)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
                return 1
            report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
            runs.setdefault(wl, []).append({"report": report, "result": result})
            e2e = {k: round(m["value"], 4) for k, m in report["end_to_end"].items()}
            print(f"{wl} seed {seed}: {e2e}", flush=True)

    for wl, rs in runs.items():
        print(f"\n{wl} ({len(rs)} runs, trace {args.trace})")
        for m in bench["end_to_end"]:
            vals = [r["report"]["end_to_end"][m["name"]]["value"] for r in rs]
            spread = stats.quartile_spread(vals) if len(vals) >= 2 else float("nan")
            flag = "" if spread < m["bound"] / 3 else "  <-- spread >= bound/3"
            print(f"  {m['name']:<12} median {statistics.median(vals):10.4f} {m['unit']:<3}"
                  f" spread {spread:6.3f}  bound {m['bound']}{flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
