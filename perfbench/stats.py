"""Statistics the benchmark reports: percentiles under the sample rule,
self time of spans, and lock wait derived from spans. Pure functions over
plain lists so perfbench/test_stats.py can pin them on fixed inputs."""
import math
import statistics

# a percentile is reported only when at least this many samples lie beyond it
TAIL_SAMPLES = 10


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1) of `values`, or None when fewer
    than TAIL_SAMPLES samples lie above it. The median (q = 0.5) of a
    non-empty sample is always reported."""
    xs = sorted(values)
    if not xs:
        return None
    if q == 0.5:
        return statistics.median(xs)
    rank = math.ceil(q * len(xs) - 1e-9)  # 1-based; the epsilon absorbs float error in q * n
    if len(xs) - rank < TAIL_SAMPLES:
        return None
    return xs[rank - 1]


def union_length(intervals, lo, hi):
    """Length of [lo, hi] covered by `intervals` ((start, end) pairs).
    Overlapping intervals count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: self time} for spans given as dicts with id, parent, start,
    end: a span's duration minus the part of it its children cover, with
    overlapping children merged."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def lock_wait(statements, commits):
    """Per statement span (start, end): the part of it overlapped by a
    commit span that was already in flight when the statement arrived.
    Statements and commits contend for one engine monitor, so that
    overlap is time the statement could not run."""
    out = []
    for s0, s1 in statements:
        out.append(sum(max(0, min(s1, c1) - s0) for c0, c1 in commits if c0 <= s0 < c1))
    return out

