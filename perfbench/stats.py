"""Small statistics and trace helpers shared by run.py and compare.py."""


def percentile(values, p):
    """The p-th percentile (0..100) with linear interpolation between the
    closest ranks, as numpy's default method."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def self_times(spans):
    """Seconds of each span name not covered by the span's children.

    `spans` are dicts with id, parent, name, start_ns and end_ns. A child
    interval is clipped to its parent, and overlapping children count
    once, so the self times of a tree add up to its root's duration.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        ivs = sorted((max(a, c["start_ns"]), min(b, c["end_ns"]))
                     for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for x, y in ivs:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["name"]] = out.get(s["name"], 0.0) + (b - a - covered) / 1e9
    return out
