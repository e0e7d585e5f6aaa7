import math
import statistics

import pytest

import stats


def test_percentile_is_the_harrell_davis_estimate():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert math.isclose(stats.percentile(xs, 50), 2.5)  # symmetric sample
    assert 3.0 < stats.percentile(xs, 90) < 4.0
    assert stats.percentile([7.0], 90) == 7.0
    assert math.isclose(stats.percentile([5.0] * 9, 90), 5.0)


def test_percentile_moves_smoothly_across_a_gap_between_clusters():
    # Thirteen operations, fast or slow: the sample median jumps from 1.0
    # to 2.0 when one fast operation turns slow; the estimate moves a
    # quarter of that.
    before = [1.0] * 7 + [2.0] * 6
    after = [1.0] * 6 + [2.0] * 7
    assert statistics.median(before) == 1.0 and statistics.median(after) == 2.0
    assert 0.0 < stats.percentile(after, 50) - stats.percentile(before, 50) < 0.25


def test_beta_cdf_matches_numerical_integration():
    def integrate(a, b, x, n=20_000):
        h = x / n
        f = [(i * h) ** (a - 1) * (1 - i * h) ** (b - 1) for i in range(1, n + 1)]
        area = h * (sum(f) - f[-1] / 2)  # trapezoids; the integrand is 0 at 0 for a > 1
        return area / math.exp(math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b))

    for a, b, x in [(13.5, 13.5, 0.4), (24.3, 2.7, 0.9), (5.0, 3.0, 0.7), (2.7, 24.3, 0.05)]:
        assert stats.beta_cdf(a, b, x) == pytest.approx(integrate(a, b, x), abs=1e-6)
    assert stats.beta_cdf(2.0, 3.0, 0.0) == 0.0
    assert stats.beta_cdf(2.0, 3.0, 1.0) == 1.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_summarize_reports_sample_count_and_tail_support():
    s = stats.summarize([float(v) for v in range(1, 21)])
    assert s["n"] == 20
    assert math.isclose(s["p50"], 10.5)
    assert 18.0 < s["p90"] < 19.0
    assert s["above_p90"] == 2  # 19 and 20


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == (q3 - q1) / med


def test_worse_by_respects_direction():
    assert stats.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert stats.worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)
    assert stats.worse_by(10.0, 9.0, "lower") == pytest.approx(-0.1)
    with pytest.raises(ValueError):
        stats.worse_by(10.0, 9.0, "sideways")


METRICS = [
    {"name": "t", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "r", "unit": "1/s", "better": "higher", "bound": 0.1},
]


def test_regressions_flags_a_median_past_its_bound():
    base = {"t": [1.0, 1.01, 0.99, 1.0], "r": [100.0, 101.0, 99.0, 100.0]}
    new = {"t": [1.2, 1.21, 1.19, 1.2], "r": [95.0, 96.0, 94.0, 95.0]}
    out = stats.regressions(base, new, METRICS)
    assert out["t"]["verdict"] == "regressed"
    assert out["t"]["worse_by"] == pytest.approx(0.2)
    assert out["r"]["verdict"] == "ok"  # 5% worse, inside the 10% bound


def test_regressions_unresolved_when_base_spread_exceeds_bound():
    base = {"t": [0.7, 1.0, 1.3, 1.0, 0.8, 1.2], "r": [100.0] * 6}
    new = {"t": [1.05, 0.9, 1.1, 1.0, 0.95, 1.0], "r": [100.0] * 6}
    out = stats.regressions(base, new, METRICS)
    assert out["t"]["verdict"] == "unresolved"
    # every run of the change better than every run of the base resolves it
    better = {"t": [0.5, 0.55, 0.6, 0.5, 0.52, 0.58], "r": [100.0] * 6}
    assert stats.regressions(base, better, METRICS)["t"]["verdict"] == "ok"


def test_canary_median_takes_only_the_samples_of_its_interval():
    import hostspeed

    samples = [(0.0, 9.0), (1.0, 1.0), (2.0, 3.0), (3.0, 2.0), (4.0, 9.0)]
    assert hostspeed.median_between(samples, 1.0, 3.0) == 2.0
    with pytest.raises(ValueError):
        hostspeed.median_between(samples, 5.0, 6.0)


def test_scale_reads_a_time_at_the_reference_speed():
    import hostspeed

    assert hostspeed.scale(10.0, hostspeed.REF_S) == 10.0
    assert math.isclose(hostspeed.scale(10.0, 2 * hostspeed.REF_S), 5.0)
