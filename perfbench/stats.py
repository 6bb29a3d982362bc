"""Small statistics helpers shared by the benchmark's metric code."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it. `p` is in (0, 100]; empty input gives None."""
    if not values:
        return None
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals, counting
    overlapping stretches once."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(a, start), min(b, end)) for a, b in intervals
            if b > start and a < end]


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    child spans cover. `spans` maps id -> (parent_id, start, end); returns
    id -> self time."""
    children = {}
    for sid, (parent, start, end) in spans.items():
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, (_, start, end) in spans.items():
        covered = union_length(clip(children.get(sid, []), start, end))
        out[sid] = (end - start) - covered
    return out
