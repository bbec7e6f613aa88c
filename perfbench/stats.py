"""Small statistics shared by the benchmark and its tests."""


def tail(values, beyond=10):
    """The highest percentile that has at least `beyond` samples above it,
    by the nearest-rank rule: (percentile, value, sample count). With n
    sorted samples that is the sample of rank n - beyond (1-based), at
    percentile 100 * (n - beyond) / n. None when there are too few
    samples for any percentile to have `beyond` samples above it."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1], n


def covered(start, end, intervals):
    """Length of the part of [start, end] that the union of `intervals`
    ((start, end) pairs) covers."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its
    interval that its child spans cover. `spans` are dicts with id,
    parent, start_ms and end_ms."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(s["start_ms"], s["end_ms"], kids.get(s["id"], []))
            for s in spans}

