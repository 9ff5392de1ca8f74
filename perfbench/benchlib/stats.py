"""The benchmark's arithmetic, kept apart so tests/test_stats.py can check
it on synthetic inputs."""
import math
import statistics

# Percentiles the tail rule may report, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, pct):
    """Nearest-rank percentile: the smallest value with at least pct% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples
    strictly above its rank. Returns (value, percentile, samples beyond).
    With too few samples for even the median, the median is returned with
    the count actually beyond it, so the caller can print it."""
    n = len(values)
    best = None
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        beyond = n - rank
        if beyond >= min_beyond:
            best = (percentile(values, pct), pct, beyond)
    if best is None:
        rank = max(1, math.ceil(0.5 * n))
        best = (percentile(values, 50.0), 50.0, n - rank)
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover.
    Children may overlap each other and may stick out of the parent; only
    the covered part inside the parent counts once."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def failed_frac(outcomes):
    """Share of operations that failed. `outcomes` holds one entry per
    attempted operation: "ok", "error" (threw) or "wrong" (returned a
    result the gate rejected); both of the latter count as failures."""
    if not outcomes:
        raise ValueError("no operations attempted")
    bad = sum(1 for o in outcomes if o != "ok")
    return bad / len(outcomes)


def busy_frac(executor_run_s, cpus, wall_s):
    """Useful-work ratio: summed executor run time over the task slots the
    wall time offered (cpus x wall)."""
    if cpus <= 0 or wall_s <= 0:
        raise ValueError("busy_frac needs cpus > 0 and wall > 0")
    return executor_run_s / (cpus * wall_s)


def write_amp(lake_bytes_written, input_event_bytes):
    """Lake bytes written per byte of input events delivered."""
    if input_event_bytes <= 0:
        return 0.0
    return lake_bytes_written / input_event_bytes


def quartile_spread(values):
    """(Q3 - Q1) / median, with the quartiles statistics.quantiles gives."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
