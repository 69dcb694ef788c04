"""Metric arithmetic shared by the benchmark runner and its tests."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def check_name(name):
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit):
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r}")
    return unit


def median(values):
    """Plain median (mean of the middle pair for even counts)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def spread(values):
    """Inter-quartile distance as a share of the median: the run-to-run
    spread a metric's regression bound has to cover."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
