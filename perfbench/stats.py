"""Summary statistics and span arithmetic shared by the benchmark."""
import math



def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile with at least ten of n samples beyond it,
    100 (1 - 10/n), and never below the median (n < 20)."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n))


def summary(values):
    """(p50, tail value, tail percentile, n)"""
    p = tail_percentile(len(values))
    return percentile(values, 50), percentile(values, p), p, len(values)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover. `spans` maps id ->
    (parent, t0, t1); returns id -> self time in the same unit."""
    children = {}
    for sid, (parent, t0, t1) in spans.items():
        children.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, (parent, t0, t1) in spans.items():
        covered = union_length([(max(a, t0), min(b, t1))
                                for a, b in children.get(sid, []) if min(b, t1) > max(a, t0)])
        out[sid] = (t1 - t0) - covered
    return out
