"""Order statistics and span arithmetic shared by the runner and its tests."""


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    returns (percentile, value), or (None, None) when there are too few
    samples for any percentile at or above the median to qualify. The value
    is the k-th largest-but-`beyond` order statistic, so exactly `beyond`
    samples lie strictly beyond it in rank."""
    n = len(xs)
    if n < 2 * beyond:
        return None, None
    s = sorted(xs)
    idx = n - beyond - 1
    return round(100.0 * (idx + 1) / n, 1), s[idx]


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Per-span self time: the span's duration minus the part of its
    interval that its child spans cover (children clipped to the parent).
    `spans` are dicts with id, parent, start, end; returns {id: self}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_length([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                              for c in kids.get(s["id"], [])])
        out[s["id"]] = (s["end"] - s["start"]) - cover
    return out

