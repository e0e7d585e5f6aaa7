"""Pure statistics for the benchmark: percentiles, spreads, bound checks.

No Spark, no I/O: everything here is unit-tested in
perfbench/tests/test_stats.py.
"""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile, q in [0, 100].

    A weighted mean of all order statistics, with Beta((n+1)p, (n+1)(1-p))
    weights, p = q/100. The sample percentile is a single order statistic:
    when the timings form clusters (13 charts, some fast, some slow) it
    jumps between clusters from run to run as one sample crosses another,
    and this estimate moves smoothly instead. q 0 and 100 are the extremes.
    """
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    n, p = len(xs), q / 100.0
    if p in (0.0, 1.0) or n == 1:
        return xs[-1] if p == 1.0 else xs[0]
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def beta_cdf(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz), for a, b > 0."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_cdf(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -((a + m) * (a + b + m) * x) / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-15:
            return front * (f - 1.0)
    raise ArithmeticError(f"beta_cdf({a}, {b}, {x}) did not converge")


def summarize(values: list[float]) -> dict[str, float]:
    """Median and p90 of a timing sample, with the sample count and the
    number of samples strictly above p90 (the tail's own support)."""
    p90 = percentile(values, 90)
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "p90": p90,
        "above_p90": sum(1 for v in values if v > p90),
    }


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as `statistics.quantiles(n=4)`
    gives them: the run-to-run spread a metric's bound must cover."""
    if len(values) < 2:
        raise ValueError("spread needs at least two values")
    q1, med, q3 = statistics.quantiles(values, n=4)
    if med == 0:
        raise ValueError("spread of a metric whose median is 0")
    return (q3 - q1) / med


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse `new` is than `base`, as a share of `base`
    (negative when it is better)."""
    if base == 0:
        raise ValueError("relative change against a base of 0")
    if better == "lower":
        return (new - base) / base
    if better == "higher":
        return (base - new) / base
    raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")


def regressions(
    base: dict[str, list[float]],
    new: dict[str, list[float]],
    metrics: list[dict],
) -> dict[str, dict]:
    """Compare two sets of runs metric by metric, by their medians.

    `metrics` are BENCHMARK.json `end_to_end` entries. Returns, per
    metric, both medians, the relative worsening, and a verdict:
    'regressed' past the bound; 'unresolved' when the base's own spread
    is wider than the bound and the change is not better on every run;
    otherwise 'ok'.
    """
    out: dict[str, dict] = {}
    for m in metrics:
        name, bound, better = m["name"], m["bound"], m["better"]
        b, n = base[name], new[name]
        b_med, n_med = statistics.median(b), statistics.median(n)
        change = worse_by(b_med, n_med, better)
        spread = quartile_spread(b) if len(b) >= 2 else 0.0
        all_better = max(n) < min(b) if better == "lower" else min(n) > max(b)
        if change > bound:
            verdict = "regressed"
        elif spread > bound and not all_better:
            verdict = "unresolved"
        else:
            verdict = "ok"
        out[name] = {
            "base_median": b_med,
            "new_median": n_med,
            "worse_by": change,
            "base_spread": spread,
            "verdict": verdict,
        }
    return out
