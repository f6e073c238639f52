"""Statistics over the harness's spans and Spark counters.

Pure functions, no I/O, so ``test_stats.py`` can pin each one.
Times are milliseconds unless a name says otherwise.
"""
import math
import statistics


def percentile(values, q):
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50), min_beyond=10):
    """Highest candidate percentile with at least ``min_beyond`` of ``n``
    samples above it, or None when even the median has too few."""
    for q in candidates:
        if n * (100.0 - q) / 100.0 >= min_beyond:
            return q
    return None


def failed_frac(attempted, failed):
    """Failed share of attempted operations; no attempts count as all failed."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


def union_ms(intervals, clip=None):
    """Total length covered by ``(start, end)`` intervals, each first
    clipped to ``clip`` when given. Overlaps count once."""
    xs = []
    for a, b in intervals:
        if clip is not None:
            a, b = max(a, clip[0]), min(b, clip[1])
        if b > a:
            xs.append((a, b))
    xs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in xs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans, leaves=()):
    """Self time of each span: its duration minus the part of its interval
    covered by its child spans and by ``leaves`` it contains.

    ``spans``: dicts with id, parent, t0, t1. ``leaves``: (t0, t1) intervals
    such as stages or planning phases; each is charged to the innermost
    span whose interval holds its start. Returns {span id: self ms}.
    """
    by_id = {s["id"]: s for s in spans}
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append((s["t0"], s["t1"]))
    ordered = sorted(spans, key=lambda s: (s["t0"], -s["t1"]))
    for a, b in leaves:
        owner = None
        for s in ordered:
            if s["t0"] <= a <= s["t1"]:
                owner = s  # later starts are deeper in a nested trace
            elif s["t0"] > a:
                break
        if owner is not None:
            children[owner["id"]].append((a, b))
    return {i: (s["t1"] - s["t0"]) - union_ms(children[i], (s["t0"], s["t1"]))
            for i, s in by_id.items()}


def slope(xs, ys):
    """Least-squares slope of ys on xs; 0 when xs do not vary."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def median(values, default=0.0):
    return statistics.median(values) if values else default
