"""The benchmark's own arithmetic, kept apart so test_stats.py can pin it."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the values at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    return xs[max(1, math.ceil(p / 100.0 * len(xs))) - 1]


def median(values):
    return percentile(values, 50)


def geomean(values):
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def open_loop(log):
    """Latency and lateness (ms) of each request of an open-loop log: both
    count from the request's scheduled send time, so a stall also charges
    the requests queued behind it."""
    latency = [e - s for s, e in zip(log["sched_ms"], log["end_ms"])]
    lateness = [t - s for s, t in zip(log["sched_ms"], log["send_ms"])]
    return latency, lateness
