import math

import pytest

import hostspeed
import run

REF = hostspeed.REF_S


def raw(ops, passes=2, setup_canary=REF, window_canary=REF):
    canary = [(t, setup_canary) for t in (0.5, 1.0, 1.5)] + [(t, window_canary) for t in (3.0, 4.0)]
    return {"ops": ops, "passes": passes, "setup_s": 12.5, "cpu_s": 30.0, "peak_rss_mb": 900.0,
            "canary": canary, "setup_mono": (0.0, 2.0), "window_mono": (2.5, 5.0)}


def ops_2x3():
    return [{"name": n, "pass": p, "s": s} for p, row in enumerate([[1.0, 2.0, 3.0], [1.5, 2.5, 3.5]])
            for n, s in zip("abc", row)]


def test_end_to_end_reports_value_unit_and_sample_count():
    m = run.end_to_end(raw(ops_2x3()))
    assert set(m) == set(run.END_TO_END_UNITS)
    assert m["op_p50_s"] == {"value": pytest.approx(2.25), "unit": "s", "n": 6, "measured": pytest.approx(2.25)}
    assert (m["op_p90_s"]["n"], m["op_p90_s"]["beyond"]) == (6, 1)
    assert m["pass_s"] == {"value": 6.75, "unit": "s", "n": 2, "measured": 6.75}  # median of 6.0 and 7.5
    assert m["cpu_s"] == {"value": 15.0, "unit": "s", "n": 2, "measured": 15.0}  # per pass
    assert m["setup_s"]["value"] == 12.5
    assert m["peak_rss_mb"] == {"value": 900.0, "unit": "MB", "n": 1}


def test_end_to_end_scales_times_by_the_canary_of_their_own_phase():
    # The host ran at half speed during set-up and a third of it during the window.
    m = run.end_to_end(raw(ops_2x3(), setup_canary=2 * REF, window_canary=3 * REF))
    assert math.isclose(m["setup_s"]["value"], 12.5 / 2)
    assert m["setup_s"]["measured"] == 12.5
    assert math.isclose(m["op_p50_s"]["value"], 2.25 / 3)
    assert math.isclose(m["pass_s"]["value"], 6.75 / 3)
    assert math.isclose(m["cpu_s"]["value"], 15.0 / 3)
    assert m["peak_rss_mb"]["value"] == 900.0  # memory is not a time


def test_benchmark_json_lists_exactly_the_metrics_run_reports():
    import json
    import os

    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
