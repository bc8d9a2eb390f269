"""End-to-end and per-layer metrics from one run's raw measurements."""
import statistics
from collections import defaultdict

import spans as sp
from workloads import FAMILIES, family

MB = 1e6

# Name -> unit of every metric this module can emit.
UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_s.p50": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "epoch_s.p50": "s", "rows_per_s": "1/s",
    "error_rate": "ratio",
    "queries.build_s": "s", "queries.force_s": "s",
    "catalyst.plan_s": "s", "catalyst.executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.gap_s": "s", "scheduler.skipped_stage_ratio": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.blocked_s": "s", "executor.util": "ratio", "executor.failed_tasks": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB", "io.read_mb": "MB", "io.write_mb": "MB",
    "streaming.epochs": "count", "streaming.empty_trigger_ratio": "ratio",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.latest_offset_s": "s",
    "streaming.jobs_per_epoch": "count", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.state_commit_s": "s",
    "self.op_s": "s", "self.build_s": "s", "self.force_s": "s",
    "self.trigger_s": "s", "self.job_s": "s", "self.stage_s": "s",
    "trace.overhead_ratio": "ratio",
}
for _p in (80, 90, 99):
    UNITS[f"op_s.p{_p}"] = UNITS[f"epoch_s.p{_p}"] = "s"
for _f in FAMILIES:
    UNITS[f"{_f}.wall_s"] = "s"
    UNITS[f"{_f}.jobs"] = "count"


def tail_percentile(n):
    """The highest of p80/p90/p99 that leaves at least ten samples above
    it, or None when even p80 does not."""
    for p in (99, 90, 80):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def _passes(result, kind, traced=None):
    return [p for p in result["passes"] if p["kind"] == kind
            and (traced is None or p["traced"] == traced)]


def _wall_s(p):
    return (p["end"] - p["start"]) / 1e3


def pass_walls(result, kind):
    """(wall seconds, traced) of each pass of a kind."""
    return [(_wall_s(p), p["traced"]) for p in _passes(result, kind)]


def _within(t, passes):
    return any(p["start"] <= t <= p["end"] for p in passes)


def _op_runs(result, passes):
    idx = {p["index"] for p in passes}
    return [r for r in result["op_runs"] if r["pass"] in idx]


def _epochs(result, passes):
    return [e for e in result.get("epochs", []) if _within(e["start"], passes)]


def end_to_end(result, rewrite_s, failed, attempted):
    warm = _passes(result, "warm", traced=False)
    cold = _passes(result, "cold")[0]
    runs = _op_runs(result, warm)
    op_s = [(r["end"] - r["start"]) / 1e3 for r in runs if not r["error"]]
    setups = [a + b for a, b in zip(rewrite_s, result["setup_session_s"])]
    m = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": _wall_s(cold),
        "pass_s": statistics.median(_wall_s(p) for p in warm),
        "op_s.p50": statistics.median(op_s),
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "peak_rss_mb": result["peak_rss_mb"],
        "error_rate": failed / attempted,
    }
    epochs = _epochs(result, warm)
    busy = [e["duration_ms"].get("triggerExecution", 0) / 1e3 for e in epochs if e["rows"] > 0]
    if busy:
        m["epoch_s.p50"] = statistics.median(busy)
        m["rows_per_s"] = sum(e["rows"] for e in epochs) / sum(_wall_s(p) for p in warm)
    # a tail percentile over all op runs, where ten samples lie above it
    for name, xs in (("op_s", op_s), ("epoch_s", busy)):
        p = tail_percentile(len(xs))
        if p:
            m[f"{name}.p{p}"] = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    samples = {"op_s": len(op_s), "epoch_s": len(busy), "passes": len(warm)}
    return m, samples


def _union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(result, cores):
    """Per-layer metrics, per traced warm pass."""
    traced = _passes(result, "warm", traced=True)
    untraced = _passes(result, "warm", traced=False)
    n = len(traced)
    idx = {p["index"] for p in traced}
    spans = sp.build_spans(result, idx)
    by_kind = defaultdict(list)
    for s in spans:
        by_kind[s["kind"]].append(s)
    op_of = {s["id"]: s for s in by_kind["op"]}
    jobs_in = [j for j in result["jobs"] if _within(j["start"], traced)]
    stages = [s for s in result["stages"] if s["submit"] and _within(s["submit"], traced)]
    declared = sum(len(j["stage_ids"]) for j in jobs_in)
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    cpu_s = sum(s["cpu_ns"] for s in stages) / 1e9
    wall_s = sum(_wall_s(p) for p in traced)
    runs = _op_runs(result, traced)

    m = {
        "queries.build_s": sum(r["build_end"] - r["start"] for r in runs) / 1e3,
        "queries.force_s": sum(r["end"] - r["build_end"] for r in runs) / 1e3,
        "scheduler.jobs": len(jobs_in),
        "scheduler.stages": len(stages),
        "scheduler.tasks": sum(s["tasks"] for s in stages),
        "executor.run_s": run_s,
        "executor.cpu_s": cpu_s,
        "executor.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "executor.blocked_s": run_s - cpu_s,
        "executor.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "shuffle.write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "shuffle.read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "shuffle.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "io.read_mb": sum(s["input_b"] for s in stages) / MB,
        "io.write_mb": sum(s["output_b"] for s in stages) / MB,
    }
    execs = defaultdict(float)
    for ph in result["phases"]:
        if _within(ph["start"], traced):
            execs[ph["execution"]] += (ph["end"] - ph["start"]) / 1e3
    m["catalyst.plan_s"] = sum(execs.values())
    m["catalyst.executions"] = len(execs)

    job_spans = by_kind["job"]
    gap = 0.0
    for op in by_kind["op"]:
        inside = [(max(j["start"], op["start"]), min(j["end"], op["end"]))
                  for j in job_spans if j["op"] == op["id"]]
        gap += (op["end"] - op["start"]) - _union_ms([iv for iv in inside if iv[1] > iv[0]])
    m["scheduler.gap_s"] = gap / 1e3

    epochs = _epochs(result, traced)
    run_ids = {e["run_id"] for e in epochs}
    dur = lambda key: sum(e["duration_ms"].get(key, 0) for e in epochs) / 1e3
    last = {}
    for e in sorted(epochs, key=lambda e: e["batch_id"]):
        last[e["run_id"]] = e
    stream_jobs = sum(1 for j in jobs_in if j["group"] in run_ids)
    m.update({
        "streaming.epochs": len(epochs),
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.state_rows": sum(e["state_rows"] for e in last.values()),
        "streaming.state_mb": sum(e["state_bytes"] for e in last.values()) / MB,
        "streaming.state_commit_s": sum(e["state_commit_ms"] for e in epochs) / 1e3,
    })

    walls = defaultdict(float)
    fam_jobs = defaultdict(int)
    for r in runs:
        walls[family(r["op"])] += (r["end"] - r["start"]) / 1e3
    for j in job_spans:
        fam_jobs[family(op_of[j["op"]]["name"])] += 1
    for f in FAMILIES:
        m[f"{f}.wall_s"] = walls[f]
        m[f"{f}.jobs"] = fam_jobs[f]
    for kind, ms in sp.self_by_kind(spans).items():
        m[f"self.{kind}_s"] = ms / 1e3
    for kind in ("op", "build", "force", "trigger", "job", "stage"):
        m.setdefault(f"self.{kind}_s", 0.0)

    # everything above is a total over the traced passes: per pass
    m = {k: v / n for k, v in m.items()}
    # ratios are not divided
    m["scheduler.skipped_stage_ratio"] = (declared - len(stages)) / declared if declared else 0.0
    m["executor.util"] = run_s / (wall_s * cores)
    m["streaming.empty_trigger_ratio"] = (
        sum(1 for e in epochs if e["rows"] == 0) / len(epochs) if epochs else 0.0)
    m["streaming.jobs_per_epoch"] = stream_jobs / len(epochs) if epochs else 0.0
    m["trace.overhead_ratio"] = (statistics.median(_wall_s(p) for p in traced)
                                 / statistics.median(_wall_s(p) for p in untraced) - 1)
    bad, table = sp.accounting(spans)
    return m, {"spans": spans, "unaccounted_ops": bad, "accounting": table}
