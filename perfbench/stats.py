"""Arithmetic that turns the harness's raw samples into metrics: medians and
percentiles of op times, span self times, and per-layer roll-ups of the
Spark jobs and planning records attached to spans."""

import math


def percentile(values, q):
    """Linear-interpolated `q`-th percentile (0..100) of `values`."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def covered(intervals, lo, hi):
    """Length of the part of [lo, hi] that the union of `intervals` covers."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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
    """{span id: duration minus the part of it its child spans cover}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def subtree_ids(spans, root):
    """Ids of `root` and every span below it."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def jobs_under(spans, jobs, root):
    ids = {str(i) for i in subtree_ids(spans, root)}
    return [j for j in jobs if j["group"] in ids]


def op_sched(span, spans, jobs, plans, cpus):
    """Scheduler and planning facts of one op span."""
    js = jobs_under(spans, jobs, span["id"])
    wall = span["end_ms"] - span["start_ms"]
    busy = covered([(j["start_ms"], j["end_ms"]) for j in js], span["start_ms"], span["end_ms"])
    ps = [p for p in plans if span["start_ms"] <= p["start_ms"] <= span["end_ms"]]
    return {
        "jobs": len(js),
        "stages": sum(j["stages"] for j in js),
        "tasks": sum(j["tasks"] for j in js),
        "gap_ms": wall - busy,
        "busy_frac": sum(j["run_ms"] for j in js) / (wall * cpus) if wall > 0 else 0.0,
        "gc_ms": sum(j["gc_ms"] for j in js),
        "analysis_ms": sum(p["analysis_ms"] for p in ps),
        "optimizer_ms": sum(p["optimizer_ms"] for p in ps),
        "physical_ms": sum(p["physical_ms"] for p in ps),
    }
