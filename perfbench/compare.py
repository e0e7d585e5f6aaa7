#!/usr/bin/env python3
"""Compare two sets of benchmark runs against BENCHMARK.json's bounds.

    python3 perfbench/compare.py base.json new.json

Both files are `steady.py --out` outputs. For every workload in both and
every end-to-end metric it prints the two medians, how much worse the
new set is as a share of the base, and a verdict: regressed past the
bound, unresolved (the base's own quartile spread is wider than the
bound), or ok. Exits 1 when any pairing regressed.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as f:
        metrics = json.load(f)["end_to_end"]
    sets = []
    for path in argv:
        with open(path) as f:
            sets.append(json.load(f))
    regressed = False
    for wl in sorted(set(sets[0]) & set(sets[1])):
        base, new = (
            {m["name"]: [r["report"]["end_to_end"][m["name"]]["value"] for r in s[wl]] for m in metrics}
            for s in sets
        )
        print(f"{wl}: {len(sets[0][wl])} base runs, {len(sets[1][wl])} new runs")
        for name, r in stats.regressions(base, new, metrics).items():
            regressed |= r["verdict"] == "regressed"
            print(f"  {name:<12} base {r['base_median']:10.4f}  new {r['new_median']:10.4f}"
                  f"  worse by {r['worse_by']:+.3f}  base spread {r['base_spread']:.3f}  {r['verdict']}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
