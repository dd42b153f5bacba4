"""Statistics for the benchmark: the tail-percentile rule, interval
unions and span self time."""
import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(values, min_beyond=10):
    """The highest of `TAIL_CANDIDATES` with at least `min_beyond` samples
    above it, as (p, value); None when even the lowest has fewer."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - max(1, math.ceil(p / 100.0 * n)) >= min_beyond:
            return p, percentile(values, p)
    return None


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def driver_gap(op_start, op_end, jobs):
    """Op wall time not covered by any Spark job: the union of the job
    intervals, clipped to the op, subtracted from the op's duration."""
    return (op_end - op_start) - union_length(jobs, op_start, op_end)


def resolve_parents(spans, slack=1.0):
    """Parent id of every span. A span names its parent, or "-" for a root,
    or "" to be placed under the smallest span of the same op that
    contains it (within `slack` ms: listener times have millisecond
    resolution). The harness's own spans are the candidates."""
    by_op = {}
    for s in spans:
        if s["id"][0] in "hobxd":
            by_op.setdefault(s["op"], []).append(s)
    parents = {}
    for s in spans:
        p = s["parent"]
        if p == "":
            best = None
            for c in by_op.get(s["op"], ()):
                if c is s or c["start"] - slack > s["start"] or c["end"] + slack < s["end"]:
                    continue
                if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                    best = c
            p = best["id"] if best else "-"
        parents[s["id"]] = p
    return parents


def self_times(spans):
    """Total self time per span name: each span's duration minus the part
    of its interval that its children cover."""
    parents = resolve_parents(spans)
    children = {}
    for s in spans:
        children.setdefault(parents[s["id"]], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(children.get(s["id"], ()), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
