"""Per-layer metrics from a traced run's spans and listener events.

Span tree: pass -> query -> {entry, exec} -> job -> stage. Every metric
is computed per traced pass and reported as the median over the passes,
so it reads on the same scale as `pass_s`. Layers:

- entry: the `SparkEntry.queries(name)` build call, with every job the
  graft modules fire eagerly inside it; self time is build time that no
  job interval covers.
- exec: the final `noop` write.
- catalyst: `qe.tracker` phases summed over the SQL executions.
- scheduler, executor, shuffle, sources: job/stage/task listener events.
- blocks: RDD block-store updates and RDDs still persisted at query end.
- streaming: micro-batch progress events.
"""
import json
import statistics

MB = 2 ** 20


def _union(intervals):
    """Total length of the union of (start, end) intervals."""
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


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def load(path):
    spans, points = [], []
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            (spans if "id" in r else points).append(r)
    return spans, points


def _pass_metrics(p, window, children, jobs, stages, points, cpus):
    lo, hi = window
    queries = children.get(p["id"], [])
    calls = {kind: [c for q in queries for c in children.get(q["id"], []) if c["kind"] == kind]
             for kind in ("entry", "exec")}
    call_ids = {c["id"] for cs in calls.values() for c in cs}
    pjobs = [j for j in jobs if j["parent"] in call_ids or (j["parent"] < 0 and lo <= j["start"] < hi)]
    job_ids = {j["id"] for j in pjobs}
    pstages = [s for s in stages if s["parent"] in job_ids]
    pts = [x for x in points if lo <= x["time"] < hi]

    def jobs_under(call):
        return [j for j in pjobs if j["parent"] == call["id"]
                or (j["parent"] < 0 and call["start"] <= j["start"] < call["end"])]

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans) / 1e3

    build_self = sum(
        (c["end"] - c["start"]) - _union(_clip([(j["start"], j["end"]) for j in jobs_under(c)],
                                               c["start"], c["end"]))
        for c in calls["entry"]) / 1e3
    pass_s = p["counts"]["pass_s"]
    in_jobs = _union(_clip([(j["start"], j["end"]) for j in pjobs], lo, hi)) / 1e3

    def st(k):
        return sum(s["counts"].get(k, 0.0) for s in pstages)

    def pt(kind, k, agg=sum):
        vals = [x["counts"][k] for x in pts if x["kind"] == kind]
        return agg(vals) if vals else 0.0

    n_stages = len(pstages)
    tasks = st("tasks")
    run_s = st("run_ms") / 1e3
    return {
        "entry.build_s": dur(calls["entry"]),
        "entry.build_self_s": build_self,
        "entry.build_jobs": sum(len(jobs_under(c)) for c in calls["entry"]),
        "exec.run_s": dur(calls["exec"]),
        "exec.jobs": sum(len(jobs_under(c)) for c in calls["exec"]),
        "catalyst.analysis_s": pt("sql", "analysis_ms") / 1e3,
        "catalyst.optimization_s": pt("sql", "optimization_ms") / 1e3,
        "catalyst.planning_s": pt("sql", "planning_ms") / 1e3,
        "catalyst.executions": sum(1 for x in pts if x["kind"] == "sql"),
        "scheduler.jobs": len(pjobs),
        "scheduler.stages": n_stages,
        "scheduler.tasks": tasks,
        "scheduler.tasks_per_stage": tasks / n_stages if n_stages else 0.0,
        "scheduler.in_jobs_s": in_jobs,
        "scheduler.outside_jobs_s": pass_s - in_jobs,
        "scheduler.failed_tasks": st("failed_tasks"),
        "executor.run_s": run_s,
        "executor.cpu_s": st("cpu_ns") / 1e9,
        "executor.gc_s": st("gc_ms") / 1e3,
        "executor.core_util": run_s / (pass_s * cpus) if pass_s > 0 else 0.0,
        "shuffle.read_mb": st("shuffle_read_b") / MB,
        "shuffle.write_mb": st("shuffle_write_b") / MB,
        "shuffle.fetch_wait_s": st("fetch_wait_ms") / 1e3,
        "shuffle.spill_mb": st("spill_b") / MB,
        "sources.read_mb": st("read_b") / MB,
        "sources.read_rows": st("read_rows"),
        "sources.write_mb": st("write_b") / MB,
        "sources.write_rows": st("write_rows"),
        "blocks.stored_mb": pt("block", "stored_b") / MB,
        "blocks.persisted_rdds": sum(q["counts"].get("persisted_rdds", 0.0) for q in queries),
        "streaming.batches": sum(1 for x in pts if x["kind"] == "batch"),
        "streaming.trigger_s": pt("batch", "trigger_ms") / 1e3,
        "streaming.add_batch_s": pt("batch", "add_batch_ms") / 1e3,
        "streaming.wal_commit_s": pt("batch", "wal_commit_ms") / 1e3,
        "streaming.state_commit_s": pt("batch", "state_commit_ms") / 1e3,
        "streaming.state_rows": pt("batch", "state_rows"),
        "streaming.state_mem_mb": pt("batch", "state_mem_b", max) / MB,
        "trace.pass_s": pass_s,
        # share of the pass the entry and exec spans cover; the rest is
        # the runner's own unpersist between queries
        "trace.span_cover": (dur(calls["entry"]) + dur(calls["exec"])) / pass_s,
    }


def per_layer(trace_path, run):
    """Median per-pass layer metrics, plus the tracing overhead: the
    traced pass time minus the untraced one, both medians of this run."""
    spans, points = load(trace_path)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for cs in children.values():
        cs.sort(key=lambda s: s["start"])
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = [s for s in spans if s["kind"] == "stage"]
    passes = sorted((s for s in spans if s["kind"] == "pass"), key=lambda s: s["start"])
    per_pass = []
    for i, p in enumerate(passes):
        hi = passes[i + 1]["start"] if i + 1 < len(passes) else float("inf")
        per_pass.append(_pass_metrics(p, (p["start"], hi), children, jobs, stages, points,
                                      run["cpus"]))
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    plain = statistics.median(s for s, _ in run["passes"])
    out["trace.overhead_s"] = out["trace.pass_s"] - plain
    return out
