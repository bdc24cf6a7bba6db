"""Self times and a consistency check for the traced run's spans.

A span's self time is its duration minus the part of it that its children
cover (the union of the children's intervals, taken within the span).

For one root, the self times of its tree add up to the root's wall time
exactly when every child lies inside its parent and no two siblings
overlap; otherwise the sum exceeds the wall time by the time children
spend outside their parents plus the time siblings overlap. Spans are
checked unclipped, so a listener job or stage attributed to the wrong span
shows up as time outside its parent. Listener spans carry the scheduler's
millisecond timestamps, so each may sit up to CLOCK_MS off at either end.
"""
import json
from collections import defaultdict

TOLERANCE = 0.01  # relative to the root's wall time
CLOCK_MS = 1.0    # resolution of the scheduler's event timestamps
LISTENER = ("exec.job", "exec.stage")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def self_times(spans):
    """Returns {"by_name": total self ms per span name, "check": worst
    excess of a tree's self-time sum over its root's wall time, beyond the
    clock slack, relative to that wall time, "outside_ms" and
    "overlap_ms": the run's totals of child time outside parents and of
    sibling overlap, "roots_within" and "roots": how many trees pass,
    "within_tolerance": check <= TOLERANCE}."""
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    by_name = defaultdict(float)
    worst = outside = overlap = 0.0
    roots = roots_within = 0
    for root in (s for s in spans if s["parent"] not in by_id):
        total, slack, stack = 0, 0.0, [root]
        while stack:
            p = stack.pop()
            ps, pe = p["start_ns"], p["end_ns"]
            cs = kids[p["id"]]
            inside = [(max(c["start_ns"], ps), min(c["end_ns"], pe)) for c in cs]
            own = (pe - ps) - _union(inside)
            by_name[p["name"]] += own / 1e6
            total += own
            out = sum((c["end_ns"] - c["start_ns"]) - max(0, e - s)
                      for c, (s, e) in zip(cs, inside))
            outside += out / 1e6
            overlap += (sum(max(0, e - s) for s, e in inside) - _union(inside)) / 1e6
            slack += 2 * CLOCK_MS * 1e6 * sum(c["name"] in LISTENER for c in cs)
            stack.extend(cs)
        wall = root["end_ns"] - root["start_ns"]
        gap = max(0.0, abs(total - wall) - slack) / wall if wall > 0 else 0.0
        worst = max(worst, gap)
        roots += 1
        roots_within += gap <= TOLERANCE
    return {"by_name": dict(by_name), "check": worst, "outside_ms": outside,
            "overlap_ms": overlap, "roots_within": roots_within,
            "roots": roots, "within_tolerance": worst <= TOLERANCE}
