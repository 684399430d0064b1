"""Order statistics and span arithmetic used to turn raw measurements into
metrics. Pure functions, unit-tested in perfbench/tests."""


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
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
    """{span id: duration minus the part of it its children cover}.

    `spans` are dicts with id, parent, start_ns and end_ns. Children may
    overlap each other (concurrent stages); their union is subtracted,
    clipped to the parent's own interval."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                               for c in children.get(s["id"], []))
        out[s["id"]] = (hi - lo) - covered
    return out
