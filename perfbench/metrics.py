"""Pure helpers that turn a run's raw measurements into metrics."""
import math
import random
import statistics

# Spans at or below this many op samples leave no tail to report.
TAIL_BEYOND = 10


def tail_percentile(n):
    """Highest whole percentile with at least TAIL_BEYOND of `n` samples
    beyond it, or None when `n` is too small to have a tail."""
    if n < 2 * TAIL_BEYOND:
        return None
    return math.floor(100 * (1 - TAIL_BEYOND / n))


def percentile(values, p):
    """Percentile by linear interpolation between the two nearest ranks.

    Op latencies come in clusters, one per op; interpolating keeps the
    reading from jumping a whole cluster when a rank lands between two.
    """
    s = sorted(values)
    x = (len(s) - 1) * p / 100
    lo = math.floor(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def op_orders(seed, n_ops, n_orders):
    """Per-pass op orders, fixed by the seed. Pass i runs order i mod len."""
    rng = random.Random(f"perfbench-order-{seed}")
    orders = []
    for _ in range(n_orders):
        order = list(range(n_ops))
        rng.shuffle(order)
        orders.append(order)
    return orders


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover.

    Each span is a dict with `id`, `parent`, `start_ms` and `dur_s`.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo = s["start_ms"]
        hi = lo + s["dur_s"] * 1000
        covered = union_ms([(c["start_ms"], c["start_ms"] + c["dur_s"] * 1000)
                            for c in children.get(s["id"], [])], lo, hi)
        out[s["id"]] = max(0.0, s["dur_s"] - covered / 1000)
    return out


def driver_gap_s(span):
    """Span time during which none of the span's own jobs was running."""
    lo = span["start_ms"]
    hi = lo + span["dur_s"] * 1000
    busy = union_ms([tuple(x) for x in span["job_intervals_ms"]], lo, hi)
    return max(0.0, span["dur_s"] - busy / 1000)


def median(values):
    return statistics.median(values)


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
