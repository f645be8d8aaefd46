"""The latency tail shared by the workloads."""

from __future__ import annotations


def percentile(xs: list[float], p: float) -> float:
    """Linear interpolation between closest ranks."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[str, float]:
    """(statistic, value): the highest percentile with at least ten
    samples beyond it; below twenty samples, where no percentile above
    the median has ten beyond it, the largest sample."""
    if len(xs) < 20:
        return "max", max(xs)
    p = 100.0 * (1.0 - 10.0 / len(xs))
    return f"p{p:g}", percentile(xs, p)
