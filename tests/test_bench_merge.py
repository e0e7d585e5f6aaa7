"""bench.py child-merge logic: valid JSON even with canary-less or
version-less children (ADVICE r10: min(.., inf) over a canary-less run
emitted the non-JSON token Infinity)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import merge_runs


def _run(total, queries, **extra):
    return {"value": total, "queries": queries, **extra}


def test_merge_takes_per_query_min_and_canary_min():
    runs = [
        _run(3.0, {"a": 1.0, "b": 2.0}, canary=0.2, versions={"x": "1"}),
        _run(2.5, {"a": 1.5, "b": 1.0}, canary=0.15),
    ]
    m = merge_runs(runs, sf=0.1, jvm_reps=2)
    assert m["queries"] == {"a": 1.0, "b": 1.0}
    assert m["value"] == 2.0
    assert m["canary"] == 0.15
    assert m["versions"] == {"x": "1"}
    json.dumps(m)  # must be serializable


def test_merge_records_unstamped_children():
    # ADVICE r11: a child omitting 'versions' must not let a partial
    # stamp masquerade as a verified-uniform run — the merged artifact
    # records how many children carried no stamp
    runs = [
        _run(3.0, {"a": 1.0}, versions={"x": "1"}),
        _run(2.0, {"a": 0.9}),
    ]
    m = merge_runs(runs, sf=0.1, jvm_reps=2)
    assert m["versions_unstamped_children"] == 1
    # fully-stamped merges carry no noise key
    runs2 = [
        _run(3.0, {"a": 1.0}, versions={"x": "1"}),
        _run(2.0, {"a": 0.9}, versions={"x": "1"}),
    ]
    assert "versions_unstamped_children" not in merge_runs(runs2, 0.1, 2)


def test_merge_survives_canary_less_children():
    # one child omits the key entirely, one carries an explicit null —
    # the exact shape merge_runs itself emits for a canary-less merge
    runs = [
        _run(3.0, {"a": 1.0}),
        _run(2.0, {"a": 0.9}, canary=None),
    ]
    m = merge_runs(runs, sf=0.01, jvm_reps=2)
    assert m["canary"] is None
    assert m["canaries"] == [None, None]
    # the old min(.., float('inf')) shape produced the token Infinity
    # here, which json can emit but no strict parser can read
    text = json.dumps(m)
    assert "Infinity" not in text
    json.loads(text)


def test_merge_carries_parallelism_master_and_codegen():
    runs = [
        _run(3.0, {"a": 1.0}, default_parallelism=4, master="local[4]",
             codegen={"compilations": 2, "compile_ms": 30.5}),
        _run(2.0, {"a": 0.9}, default_parallelism=4, master="local[4]",
             codegen={"compilations": 0, "compile_ms": 0.0}),
        _run(2.5, {"a": 0.8}),  # older child protocol: no stamps
    ]
    m = merge_runs(runs, sf=0.1, jvm_reps=3)
    assert m["default_parallelism"] == 4
    assert m["master"] == "local[4]"
    assert m["codegen"] == {
        "compilations": [2, 0, None],
        "compile_ms": [30.5, 0.0, None],
    }
    json.loads(json.dumps(m))
