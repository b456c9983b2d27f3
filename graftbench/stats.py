"""Statistics the benchmark reports: medians, quartiles, the tail
percentile rule and span self time."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(Q1, Q2, Q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def tail_percentile(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above
    it, as (percentile, value); None with fewer than beyond + 1 samples."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, s[n - beyond - 1]


def p99_supported(n, beyond=10):
    """True when a p99 over n samples has at least `beyond` samples above it."""
    return n - -(-n * 99 // 100) >= beyond


def _union_length(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover (children clipped to the parent).
    `spans` are dicts with id, parent, start_ns and end_ns; returns
    {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = [(max(a, c["start_ns"]), min(b, c["end_ns"]))
                   for c in children.get(s["id"], [])]
        covered = [(x, y) for x, y in covered if y > x]
        out[s["id"]] = (b - a) - _union_length(covered)
    return out


def layer_self_times(spans):
    """{pass: {layer: self seconds}} summed over each pass's spans."""
    own = self_times(spans)
    out = {}
    for s in spans:
        per = out.setdefault(s["pass"], {})
        per[s["layer"]] = per.get(s["layer"], 0.0) + own[s["id"]] / 1e9
    return out


def coverage(layer_self, wall):
    """Share of a pass's wall time that the module layers' spans account
    for: everything but the self time of the benchmark's own `harness`
    spans, which is the unattributed remainder."""
    return 1.0 - layer_self.get("harness", 0.0) / wall
