"""Statistics used by the benchmark's reports.

Percentiles follow one rule: a percentile is reported only when at least
MIN_BEYOND samples lie beyond it, so a "p99" always rests on at least
1,000 samples and a median on at least 20. Every reported percentile
carries its sample count.
"""
import math
import statistics

MIN_BEYOND = 10


def clean(samples):
    """The finite samples, sorted."""
    return sorted(x for x in samples if x is not None and math.isfinite(x))


def min_samples(q):
    """Smallest sample count for which percentile q (0-100) is reportable."""
    n = 1
    while n - math.ceil(q / 100.0 * n) < MIN_BEYOND:
        n += 1
    return n


def percentile(samples, q):
    """Nearest-rank percentile q (0 < q < 100) of `samples`.

    Returns (value, n). value is None when fewer than MIN_BEYOND samples
    lie beyond the percentile's rank."""
    xs = clean(samples)
    n = len(xs)
    if n == 0:
        return None, 0
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None, n
    return xs[rank - 1], n


def failure_rate(attempted, failed):
    """Failed operations over attempted ones; an empty run is all failure."""
    if attempted < 0 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return 1.0 if attempted == 0 else failed / attempted


def open_loop_latencies(due, done):
    """Per-request latency of an open-loop run, measured from each request's
    DUE time (not its send time): a stall inflates every request queued
    behind it. Requests that never completed (None/NaN) are dropped; count
    them as failures."""
    return [d1 - d0 for d0, d1 in zip(due, done)
            if d0 is not None and d1 is not None and math.isfinite(d0) and math.isfinite(d1)]


def spread(values):
    """Inter-quartile range as a share of the median (the acceptance rule for
    the run-to-run steadiness of an end-to-end metric)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
