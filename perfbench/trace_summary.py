"""Trace summariser: spans -> per-layer self times.

A span is a dict with id, parent (0 = none), op, name, start, end (epoch ns).
The root of an op is its parentless `op.*` span. Within an op, every
instant of the root's interval is attributed to the deepest spans open at
that instant (split evenly when several are, as with parallel backfill
tasks or concurrent Spark jobs). A span's self time is what it is
attributed; the root's self time is the op's uncovered time. By
construction self times plus uncovered time equal the op's wall time, less
whatever child time lies outside the root (clipped); the coverage check
bounds that clipped share.

Usage: python3 perfbench/trace_summary.py <spans.jsonl>
"""
import collections
import json
import sys

# Clipped child time allowed per op: 1% of its wall time, or 2 ms (the
# Spark listener stamps jobs to the millisecond).
TOLERANCE_FRAC = 0.01
TOLERANCE_NS = 2_000_000


def layer(name):
    """`core.merge_into` -> `core`; `spark.job` -> `spark`; `op.x` -> `op`."""
    return name.split(".", 1)[0]


def _depths(spans_by_id):
    depth = {}

    def d(sid):
        if sid in depth:
            return depth[sid]
        p = spans_by_id[sid]["parent"]
        depth[sid] = 0 if p == 0 or p not in spans_by_id else d(p) + 1
        return depth[sid]

    for sid in spans_by_id:
        d(sid)
    return depth


def self_times(spans):
    """Returns (self_ns by span id, per-op {wall, attributed, clipped})."""
    by_id = {s["id"]: s for s in spans}
    depth = _depths(by_id)
    by_op = collections.defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    self_ns = collections.defaultdict(float)
    ops = {}
    for op, ss in by_op.items():
        roots = [s for s in ss if s["parent"] == 0 and s["name"].startswith("op.")]
        if len(roots) != 1:
            continue
        root = roots[0]
        r0, r1 = root["start"], root["end"]
        clipped = 0
        edges = []
        for s in ss:
            a, b = max(s["start"], r0), min(s["end"], r1)
            clipped += max(0, r0 - s["start"]) + max(0, s["end"] - r1)
            if b > a:
                edges.append((a, 1, s["id"]))
                edges.append((b, -1, s["id"]))
        edges.sort()
        active = set()
        prev = r0
        for t, kind, sid in edges:
            if t > prev and active:
                deepest = max(depth[x] for x in active)
                top = [x for x in active if depth[x] == deepest]
                for x in top:
                    self_ns[x] += (t - prev) / len(top)
            prev = t
            if kind == 1:
                active.add(sid)
            else:
                active.discard(sid)
        attributed = sum(self_ns[s["id"]] for s in ss)
        ops[op] = {"wall": r1 - r0, "attributed": attributed, "clipped": clipped}
    return self_ns, ops


def coverage(ops):
    """(worst clipped share, ops over tolerance) over all ops."""
    worst, bad = 0.0, 0
    for o in ops.values():
        err = abs(o["wall"] - o["attributed"])
        share = (err + o["clipped"]) / o["wall"] if o["wall"] else 0.0
        worst = max(worst, share)
        if err + o["clipped"] > max(TOLERANCE_FRAC * o["wall"], TOLERANCE_NS):
            bad += 1
    return worst, bad


def summarize(spans):
    """Per-layer self seconds, per-name call counts and durations, jobs
    under each span, and the coverage check."""
    self_ns, ops = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    layer_self = collections.defaultdict(float)
    name_self = collections.defaultdict(float)
    name_total = collections.defaultdict(float)
    name_calls = collections.Counter()
    jobs_under = collections.Counter()
    for s in spans:
        layer_self[layer(s["name"]) if not s["name"].startswith("op.") else "uncovered"] += \
            self_ns[s["id"]] / 1e9
        name_self[s["name"]] += self_ns[s["id"]] / 1e9
        name_total[s["name"]] += (s["end"] - s["start"]) / 1e9
        name_calls[s["name"]] += 1
        if s["name"] == "spark.job":
            p = by_id.get(s["parent"])
            while p is not None:
                jobs_under[p["name"]] += 1
                p = by_id.get(p["parent"])
    worst, bad = coverage(ops)
    return {
        "ops": len(ops),
        "wall_s": sum(o["wall"] for o in ops.values()) / 1e9,
        "layer_self_s": dict(layer_self),
        "name_self_s": dict(name_self),
        "name_total_s": dict(name_total),
        "name_calls": dict(name_calls),
        "jobs_under": dict(jobs_under),
        "coverage_worst": worst,
        "coverage_bad_ops": bad,
        "coverage_ok": bad == 0,
    }


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


if __name__ == "__main__":
    print(json.dumps(summarize(load(sys.argv[1])), indent=1, sort_keys=True))
