"""Percentiles that carry their sample count.

A percentile is reported only when at least ten samples lie beyond it
(nearest-rank), so a p90 needs 100 samples and a median 20.  A failed
operation enters a latency sample as +inf: it counts as missing every
latency limit instead of as a fast operation.
"""
import math
import statistics

MIN_BEYOND = 10


class Refused(ValueError):
    """Too few samples beyond the requested percentile."""


def percentile(samples, p):
    """Nearest-rank p-th percentile (0 < p < 100) as
    {"value", "n", "beyond"}; raises Refused below MIN_BEYOND."""
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(p / 100.0 * n))
    beyond = n - rank
    if beyond < MIN_BEYOND:
        raise Refused(f"p{p:g} of {n} samples has {beyond} beyond it, needs {MIN_BEYOND}")
    return {"value": xs[rank - 1], "n": n, "beyond": beyond}


def percentile_or_none(samples, p):
    try:
        return percentile(samples, p)
    except Refused as e:
        return {"value": None, "n": len(samples), "refused": str(e)}


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
