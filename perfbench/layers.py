"""Per-layer metrics of a traced run, computed from the span dump.

Times are per-operation medians and counts per-operation means over the
traced operations of a kind, unless the name says otherwise. A layer the
workload does not exercise reports 0.
"""
import json
import os
import statistics

DIM_BYTES = 64 * 4   # one f32 64-d vector

STAGES = ["hnsw-graph", "hnsw-rwcorpus", "churn-clone", "search-warmup"]

UNITS = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "plans.analyze_ms": "ms", "plans.optimize_ms": "ms", "plans.plan_ms": "ms",
    "plans.optimize_jobs": "count",
    "streaming.serve_call_ms": "ms", "streaming.serve_call_jobs": "count",
    "streaming.collect_ms": "ms", "streaming.collect_jobs": "count",
    "hnsw.append_ms": "ms", "hnsw.append_jobs": "count",
    "hnsw.delete_ms": "ms", "hnsw.delete_jobs": "count",
    "hnsw.maintain_ms": "ms", "hnsw.maintain_jobs": "count",
    "hnsw.compactions": "count", "hnsw.bytes_written": "bytes",
    "hnsw.index_bytes_per_vector_byte": "ratio",
    "update.p50_ms": "ms", "quality.recall_at_5": "fraction",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms", "exec.cpu_per_run": "ratio",
    "exec.slot_busy_frac": "fraction", "exec.sched_delay_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.failed_tasks": "count",
    "setup.session_ms": "ms", "setup.stage_jobs": "count",
    **{f"setup.stage.{s}_ms": "ms" for s in STAGES},
    "jvm.gc_ms": "ms", "jvm.heap_after_gc_mb": "MB",
    "trace.unattributed_jobs": "count", "trace.overhead_frac": "fraction",
}


def load(path):
    spans, jobs, queries, clock = {}, [], [], 0
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            k = r.pop("kind")
            if k == "span":
                spans[r["id"]] = r
            elif k == "job":
                jobs.append(r)
            elif k == "query":
                queries.append(r)
            elif k == "clock":
                clock = r["epoch_to_nano"]
    return spans, jobs, queries, clock


def children(spans):
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s["id"])
    return kids


def subtree(root, kids):
    out, todo = set(), [root]
    while todo:
        s = todo.pop()
        out.add(s)
        todo += kids.get(s, [])
    return out


def union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e6


def med(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload, wl, res, out_dir, ncores, summary):
    spans, jobs, queries, clock = load(os.path.join(out_dir, "spans.jsonl"))
    kids = children(spans)
    ms = lambda s: (s["t1"] - s["t0"]) / 1e6
    jobs_in = {}
    for j in jobs:
        jobs_in.setdefault(j["span"], []).append(j)

    def jobs_under(sid):
        return [j for s in subtree(sid, kids) for j in jobs_in.get(s, [])]

    roots = [s for s in spans.values() if s["parent"] == 0 and s["name"].startswith("op.")]
    by_kind = {}
    for r in roots:
        by_kind.setdefault(r["name"][3:], []).append(r)
    m = {k: 0.0 for k in UNITS}

    def child_named(root, name):
        return [spans[c] for c in kids.get(root["id"], []) if spans[c]["name"] == name]

    def layer(prefix, kind, span_name):
        ds, js = [], []
        for r in by_kind.get(kind, []):
            for c in child_named(r, span_name):
                ds.append(ms(c))
                js.append(len(jobs_under(c["id"])))
        if ds:
            m[f"{prefix}_ms"] = med(ds)
            m[f"{prefix}_jobs"] = mean(js)

    layer("queries.build", "query", "queries.build")
    layer("streaming.serve_call", "search", "streaming.serve_call")
    layer("streaming.collect", "search", "streaming.collect")
    for verb in ("append", "delete", "maintain"):
        layer(f"hnsw.{verb}", "update", f"hnsw.{verb}")

    primary = by_kind.get(wl["primary"], [])
    # planning phases of every query execution the op completed
    qs_by_op = {}
    for q in queries:
        qs_by_op.setdefault(q["op"], []).append(q)
    phase_ms = {"analysis": [], "optimization": [], "planning": []}
    opt_jobs = []
    for r in primary:
        qs = qs_by_op.get(r["id"], [])
        for ph in phase_ms:
            phase_ms[ph].append(sum(q[ph][1] - q[ph][0] for q in qs))
        windows = [(q["optimization"][0] * 1_000_000 + clock, q["optimization"][1] * 1_000_000 + clock)
                   for q in qs]
        opt_jobs.append(sum(1 for j in jobs_under(r["id"])
                            if any(a <= j["t0"] <= b for a, b in windows)))
    if primary:
        m["plans.analyze_ms"] = med(phase_ms["analysis"])
        m["plans.optimize_ms"] = med(phase_ms["optimization"])
        m["plans.plan_ms"] = med(phase_ms["planning"])
        m["plans.optimize_jobs"] = mean(opt_jobs)

    # Spark execution of the primary ops
    rows = []
    for r in primary:
        js = jobs_under(r["id"])
        rows.append({
            "ms": union_ms([(j["t0"], j["t1"]) for j in js if j["t1"] > 0]),
            "jobs": len(js), "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "run": sum(j["run_ms"] for j in js), "cpu": sum(j["cpu_ms"] for j in js),
            "sched": sum(j["sched_delay_ms"] for j in js), "gc": sum(j["gc_ms"] for j in js),
            "shuffle": sum(j["shuffle_write_bytes"] for j in js),
            "input": sum(j["input_bytes"] for j in js),
            "failed": sum(j["failed_tasks"] for j in js), "wall": ms(r),
        })
    if rows:
        m["exec.ms"] = med([x["ms"] for x in rows])
        for key, col in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                         ("shuffle_write_bytes", "shuffle"), ("input_bytes", "input"),
                         ("failed_tasks", "failed")):
            m[f"exec.{key}"] = mean([x[col] for x in rows])
        for key, col in (("executor_run_ms", "run"), ("executor_cpu_ms", "cpu"),
                         ("sched_delay_ms", "sched"), ("gc_ms", "gc")):
            m[f"exec.{key}"] = med([x[col] for x in rows])
        run = sum(x["run"] for x in rows)
        m["exec.cpu_per_run"] = sum(x["cpu"] for x in rows) / run if run else 0.0
        m["exec.slot_busy_frac"] = med([x["run"] / (x["wall"] * ncores) for x in rows])

    # index write path
    updates = by_kind.get("update", [])
    if updates:
        m["hnsw.bytes_written"] = mean([sum(j["output_bytes"] for j in jobs_under(r["id"]))
                                        for r in updates])
    n_updates = sum(1 for o in res["ops"] if o[0] == "update")
    if n_updates:
        m["hnsw.compactions"] = res["compactions"] / n_updates
        m["update.p50_ms"] = med([o[1] for o in res["ops"] if o[0] == "update"])
    if workload == "index_churn":
        live = summary.get("live_vectors", 0)
        if live:
            m["hnsw.index_bytes_per_vector_byte"] = mean(res["index_bytes"]) / (live * DIM_BYTES)
        m["quality.recall_at_5"] = summary.get("recall_at_5", 0.0)

    # set-up
    m["setup.session_ms"] = res["session_ms"]
    for s, v in res["setup_ms"].items():
        m[f"setup.stage.{s}_ms"] = v
    setup_spans = [s for s in spans.values() if s["parent"] == 0 and s["name"].startswith("setup.")]
    m["setup.stage_jobs"] = float(sum(len(jobs_under(s["id"])) for s in setup_spans))

    # driver JVM
    m["jvm.gc_ms"] = res["gc_ms"] / max(1, len(res["ops"]))
    m["jvm.heap_after_gc_mb"] = res["heap_mb"]

    # the trace itself
    windows = [(r["t0"], r["t1"]) for r in roots]
    m["trace.unattributed_jobs"] = float(sum(
        1 for j in jobs if j["span"] == 0 and any(a <= j["t0"] <= b for a, b in windows)))
    m["trace.overhead_frac"] = res["trace_ms"] / res["loop_ms"] if res["loop_ms"] else 0.0
    return m
