"""Statistics helpers for the benchmark: percentiles with a sample-count
rule, the backlog-growth detector of the streaming rate ladder, and
per-event latency reconstruction from micro-batch records."""
import math


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p < 100) of `values`, or None when
    fewer than 10 samples lie beyond it (so p50 needs 20 samples, p75 40,
    p90 100 and p95 200)."""
    n = len(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def median(values):
    """Plain median (no sample-count rule); None for no values."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return None
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


GROWTH_FRACTION = 0.1
MIN_BATCHES = 3


def backlog_growing(samples, rate):
    """Decides whether the backlog grew during one rung of the rate ladder.

    `samples` are (seconds, backlog rows) pairs taken when each micro-batch
    of the rung completed; `rate` is the rung's input rate in rows/s. The
    backlog is growing when the engine completed fewer than MIN_BATCHES
    batches in the rung, or when the least-squares slope of backlog over
    time exceeds GROWTH_FRACTION of the input rate (the engine falls behind
    by more than a tenth of what arrives)."""
    if len(samples) < MIN_BATCHES:
        return True
    n = float(len(samples))
    mt = sum(t for t, _ in samples) / n
    mb = sum(b for _, b in samples) / n
    var = sum((t - mt) ** 2 for t, _ in samples)
    if var == 0:
        return True
    slope = sum((t - mt) * (b - mb) for t, b in samples) / var
    return slope > GROWTH_FRACTION * rate
