"""Statistics of the benchmark: medians, the tail rule, recall means and
span self time. Pure functions, unit-tested in test_stats.py."""
import math
import statistics


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values):
    """The highest percentile that still has at least ten samples beyond
    it, never below the median. Returns (value, percentile, n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    # index n-11 leaves exactly ten samples above it; n//2 is the upper
    # median
    i = max(n - 11, n // 2)
    return xs[i], (i + 1) / n, n


def mean_recall(pairs):
    """Mean over paths of each path's mean recall, so the path mix does
    not weigh in. `pairs` is [(path, recall), ...]."""
    by = {}
    for p, r in pairs:
        by.setdefault(p, []).append(r)
    if not by:
        raise ValueError("no recall samples")
    return sum(sum(v) / len(v) for v in by.values()) / len(by)


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals (clipped to the span). `spans` is a list of
    (id, parent, start, end, name); returns {id: self}."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, start, end, _ in spans:
        covered, cur_s, cur_e = 0, None, None
        for _, _, cs, ce, _ in sorted(kids.get(sid, []), key=lambda c: c[2]):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out
