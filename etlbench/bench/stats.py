"""Order statistics and interval arithmetic used by the metrics."""
import statistics


def median(values):
    return statistics.median(values)


def tail(values):
    """The highest percentile that has at least ten samples beyond it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    sample at 1-based rank n-10 has exactly ten samples above it; its
    percentile is (n-10)/n. With fewer than eleven samples no such
    percentile exists and the maximum is returned with percentile 100.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals, counting
    overlapping stretches once."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans):
    """Each span's duration minus the part of its interval that its
    child spans cover. `spans` are dicts with id, parent, t0, t1."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(clip(children.get(s["id"], []), s["t0"], s["t1"]))
            for s in spans}
