"""Summary statistics and the metric-name grammar the benchmark reports in."""

from __future__ import annotations

import re
import statistics
import time
from collections import defaultdict

import numpy as np

# Every metric name, end-to-end or per-layer, matches this.
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"metric name {name!r} is outside [A-Za-z0-9_.-]+")
    return name


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a weighted mean of all
    order statistics, weighted by a Beta((n+1)q, (n+1)(1-q)) distribution
    over their ranks. A run times a mix of operations of very different
    cost, so the plain sample median jumps between whichever two
    operations sit in the middle; this estimate moves smoothly instead."""
    n = len(values)
    if n == 0:
        raise ValueError("quantile of no samples")
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 100_001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.cumsum(np.exp(log_pdf - log_pdf.max()))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, t, cdf, left=0.0, right=1.0)
    return float(np.diff(edges) @ np.sort(np.asarray(values, dtype=float)))


def op_median(timings: list[tuple[str, float]]) -> float:
    """The median operation time of a run, from its (kind, seconds)
    samples: each kind's median (a ``corpus_batch`` row over its passes,
    an ingest epoch's one sample), then the Harrell-Davis median over
    kinds. A row's median over three passes ignores one pass that ran
    slow; across kinds, the weighted estimate moves smoothly where the
    row times leave gaps that a sample median would jump across."""
    by_kind: dict[str, list[float]] = defaultdict(list)
    for kind, seconds in timings:
        by_kind[kind].append(seconds)
    return quantile([median(v) for v in by_kind.values()], 0.5)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float:
    """The highest percentile of n samples that still has at least
    ``beyond`` samples above it. The sample at 1-based rank n - beyond
    has exactly ``beyond`` samples after it; it sits at percentile
    100 * (n - beyond) / n. Fewer than beyond + 1 samples leave no such
    percentile, which is an error: the run was too short for a tail."""
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    return 100.0 * (n - beyond) / n


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(estimate, percentile) of the tail percentile of ``values``."""
    pct = tail_percentile(len(values), beyond)
    return quantile(values, pct / 100.0), pct


def calibrate(repeats: int = 3, iters: int = 1_000_000) -> float:
    """Median time of a fixed single-threaded integer loop (the same
    method as the project's ``bench.py``). Under CPU steal or frequency
    dips it inflates, so a noisy host shows in the output; timings are
    never divided by it."""
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        x = 0
        for i in range(iters):
            x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFF
        samples.append(time.perf_counter() - t0)
    return median(samples)


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(sum(delta[:8]), 1)
