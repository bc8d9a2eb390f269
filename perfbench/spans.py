"""Spans of a traced run, their self times, and the accounting check.

A span is a dict with id, kind, name, start, end (epoch ms), parent and
op (the id of the op span it belongs to). Kinds: op, build, force,
trigger, job, stage. Each op span is the root of its own tree:

    op -> build | force -> trigger -> job -> stage

Jobs are attributed to an op by the stream run that launched them (job
group = stream run id) or else by the op window they start in; ops run
one at a time.

Self time: at each instant of an op's interval, the time is credited to
the deepest spans active then, split evenly among them. When siblings do
not overlap this is a span's duration minus the part its children
cover; when they overlap (concurrent jobs or stages) the split keeps the
sum of self times equal to the op's wall time.
"""
from collections import defaultdict

# An op's spans must account for its wall time to within this share of
# the wall time plus a fixed slack for the millisecond clock of Spark's
# events. Time a child spends outside its parent is what goes missing.
TOLERANCE_SHARE = 0.05
TOLERANCE_MS = 25.0


def _inside(t, span):
    return span["start"] <= t <= span["end"]


def build_spans(result, traced_passes):
    """Builds the span list for the op runs of `traced_passes`."""
    spans = []
    ops = []
    for i, r in enumerate(result["op_runs"]):
        if r["pass"] not in traced_passes:
            continue
        op_id = f"op{i}"
        op = {"id": op_id, "kind": "op", "name": r["op"], "start": r["start"],
              "end": r["end"], "parent": None, "op": op_id}
        build = {"id": f"{op_id}.build", "kind": "build", "name": r["op"],
                 "start": r["start"], "end": r["build_end"], "parent": op_id, "op": op_id}
        force = {"id": f"{op_id}.force", "kind": "force", "name": r["op"],
                 "start": r["build_end"], "end": r["end"], "parent": op_id, "op": op_id}
        spans += [op, build, force]
        ops.append((op, build, force))

    def owner(t):
        for op, build, force in ops:
            if _inside(t, op):
                return op, build, force
        return None

    run_op = {}
    for q in result.get("queries_started", []):
        o = owner(q["time"])
        if o:
            run_op[q["run_id"]] = o
    triggers = defaultdict(list)
    for k, e in enumerate(result.get("epochs", [])):
        o = run_op.get(e["run_id"]) or owner(e["start"])
        if not o:
            continue
        op, build, force = o
        parent = build if _inside(e["start"], build) else force
        end = e["start"] + e["duration_ms"].get("triggerExecution", 0)
        t = {"id": f"trigger{k}", "kind": "trigger", "name": e["run_id"],
             "start": e["start"], "end": end, "parent": parent["id"], "op": op["id"]}
        spans.append(t)
        triggers[e["run_id"]].append(t)

    job_spans = {}
    for j in result.get("jobs", []):
        if j["end"] < 0:
            continue
        o = run_op.get(j["group"]) or owner(j["start"])
        if not o:
            continue
        op, build, force = o
        parent = next((t for t in triggers.get(j["group"], []) if _inside(j["start"], t)),
                      build if _inside(j["start"], build) else force)
        span = {"id": f"job{j['id']}", "kind": "job", "name": str(j["id"]),
                "start": j["start"], "end": j["end"], "parent": parent["id"], "op": op["id"]}
        spans.append(span)
        job_spans[j["id"]] = (j, span)
    # A stage id is listed by every job that needs it, but it runs once, in
    # the job whose window holds its submission; the other jobs skip it.
    for s in result.get("stages", []):
        if not (s["submit"] and s["complete"]):
            continue
        job = next((span for j, span in job_spans.values()
                    if s["id"] in j["stage_ids"] and _inside(s["submit"], span)), None)
        if job:
            spans.append({"id": f"stage{s['id']}.{s['attempt']}", "kind": "stage",
                          "name": str(s["id"]), "start": s["submit"], "end": s["complete"],
                          "parent": job["id"], "op": job["op"]})
    return spans


def _clip(spans):
    """Clips every span to its parent's (clipped) interval. Returns the
    clipped spans and, per op, the child time that fell outside."""
    by_id = {s["id"]: dict(s) for s in spans}
    lost = defaultdict(float)

    def depth(s):
        d = 0
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            d += 1
        return d

    ordered = sorted(by_id.values(), key=depth)
    for s in ordered:
        s["depth"] = depth(s)
        if s["parent"] is None:
            continue
        p = by_id[s["parent"]]
        start, end = max(s["start"], p["start"]), min(s["end"], p["end"])
        end = max(start, end)
        lost[s["op"]] += (s["end"] - s["start"]) - (end - start)
        s["start"], s["end"] = start, end
    return ordered, lost


def self_times(spans):
    """Self time (ms) of every span, keyed by span id."""
    clipped, _ = _clip(spans)
    by_op = defaultdict(list)
    for s in clipped:
        by_op[s["op"]].append(s)
    out = defaultdict(float)
    for members in by_op.values():
        points = sorted({p for s in members for p in (s["start"], s["end"])})
        for a, b in zip(points, points[1:]):
            mid = (a + b) / 2
            active = [s for s in members if s["start"] <= mid < s["end"]]
            if not active:
                continue
            deepest = max(s["depth"] for s in active)
            top = [s for s in active if s["depth"] == deepest]
            for s in top:
                out[s["id"]] += (b - a) / len(top)
    return out


def self_by_kind(spans):
    times = self_times(spans)
    kinds = defaultdict(float)
    for s in spans:
        kinds[s["kind"]] += times.get(s["id"], 0.0)
    return kinds


def accounting(spans):
    """Per op: (wall ms, summed self ms, child ms outside its parent).
    Returns the list of op ids whose spans miss the tolerance, and the
    per-op table."""
    times = self_times(spans)
    _, lost = _clip(spans)
    table = {}
    for s in spans:
        if s["kind"] == "op":
            table[s["id"]] = [s["end"] - s["start"], 0.0, lost.get(s["id"], 0.0)]
    for s in spans:
        table[s["op"]][1] += times.get(s["id"], 0.0)
    bad = [op for op, (wall, summed, out) in table.items()
           if abs(summed - wall) + out > TOLERANCE_SHARE * wall + TOLERANCE_MS]
    return bad, table
