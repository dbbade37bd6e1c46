"""Arithmetic the benchmark relies on, kept free of Spark so it can be
tested on its own: percentiles and the tail-percentile rule, per-kind typical
latencies, and spread statistics."""

from __future__ import annotations

import statistics
from collections.abc import Sequence

import numpy as np

# percentiles considered for the tail, lowest first
TAIL_CANDIDATES = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile.

    It is a weighted mean of all order statistics, with Beta(p(n+1),
    (1-p)(n+1)) weights centred on the percentile's rank.  A batch pass
    holds one latency per query, and queries sit in clusters: the plain
    order statistic jumps from one cluster to the next when one query
    overtakes another, while this estimate moves smoothly.  Where a Beta
    parameter is below 1 (extreme percentiles of tiny samples) it falls
    back to linear interpolation."""
    x = np.sort(np.asarray(values, dtype="float64"))
    n = x.size
    if n == 0:
        raise ValueError("percentile of an empty sample")
    q = p / 100.0
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    if n == 1 or a < 1.0 or b < 1.0:
        return float(np.percentile(x, p))
    grid = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore", invalid="ignore"):
        log_pdf = (a - 1.0) * np.log(grid) + (b - 1.0) * np.log1p(-grid)
    log_pdf[~np.isfinite(log_pdf)] = -np.inf
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2.0)])
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(weights @ x)


def typical_ms(per_kind: dict[str, list[float]]) -> dict[str, float]:
    """Each kind of operation's median latency.  A closed loop cycles
    through a fixed set of kinds whose costs differ several-fold; taking
    each kind's median before any percentile across kinds keeps the mix
    fixed however many operations of each kind a run completes, and lets
    a few seconds of host slowdown move a kind's figure only when it
    covers half of that kind's operations.  Kinds with no sample are
    left out."""
    return {k: statistics.median(v) for k, v in per_kind.items() if v}


def closed_loop_rate(typical: dict[str, float]) -> float:
    """Operations per second of one closed-loop client that runs every
    kind in turn and takes each kind's typical latency (ms)."""
    return len(typical) / (sum(typical.values()) / 1e3)


def samples_beyond(n: int, p: float) -> float:
    """How many of ``n`` samples lie above the ``p``-th percentile."""
    return n * (100.0 - p) / 100.0


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if samples_beyond(n, p) >= MIN_BEYOND - 1e-9:  # float slack: 100 - 99.9
            best = p
    return best


def spread(values: Sequence[float]) -> dict:
    """Median, quartiles and IQR/median of a set of runs, with the
    quartiles exactly as ``statistics.quantiles(values, n=4)`` gives
    them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else float("inf"),
    }


def worse_share(before: float, after: float, better: str) -> float:
    """How much worse ``after`` is than ``before``, as a share of
    ``before`` (negative when it is better)."""
    if before == 0:
        return 0.0 if after == before else float("inf")
    d = (after - before) / before
    return d if better == "lower" else -d

