"""Pure arithmetic of the benchmark: percentiles and the tail rule, span
self-times, spreads and the bound comparison. No I/O; see test_bench.py."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """Nearest-rank percentile, `p` in (0, 100]."""
    s = sorted(values)
    if not s:
        return 0.0
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def beyond(n, p):
    """Samples strictly beyond the nearest-rank `p`th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n)) if n else 0


def tail_percentile(n, need=10):
    """The highest whole percentile with at least `need` samples beyond it,
    or None when n <= need."""
    for p in range(99, 0, -1):
        if beyond(n, p) >= need:
            return p
    return None


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, -math.inf
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.
    Spans are dicts with id, parent, start_ms, end_ms; children may overlap
    one another (spans on task threads run concurrently)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_length(
            kids, s["start_ms"], s["end_ms"])
    return out


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (Python's default `statistics.quantiles` method)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / abs(m) if m else math.inf


def worse_by(first, second, better):
    """How much worse the median of `second` is than that of `first`, as a
    share of the first median (negative when it is better)."""
    m1, m2 = statistics.median(first), statistics.median(second)
    if m1 == 0:
        return 0.0 if m2 == m1 else math.inf
    change = (m2 - m1) / abs(m1)
    return change if better == "lower" else -change


def within_bound(first, second, better, bound):
    """The bound comparison: `second` is acceptable when its median is not
    worse than that of `first` by more than `bound`."""
    return worse_by(first, second, better) <= bound
