#!/usr/bin/env python3
"""Summarise the span dumps of traced benchmark runs.

    python3 perfbench/trace_summary.py [TRACE_DIR]

TRACE_DIR defaults to .bench_build/traces, where `run.py --trace 1` keeps
`<workload>-seed<N>.spans.jsonl` and every run keeps
`<workload>-seed<N>-trace<T>.json`. For each traced run it prints, per
layer span: how many ran, their median self time (duration minus the part
covered by child spans), their median wait on Spark jobs they started
(union of those jobs' intervals), and jobs per operation. It also checks
that every child span lies inside its operation's root span, counts jobs
no span claimed, and states the tracing overhead: the client-thread time
spent draining listener events in the traced run and, when the untraced
run of the same workload and seed is present, the change in ops/s and in
median latency between the two.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402


def med(xs):
    return statistics.median(xs) if xs else 0.0


def summarise(spans_path):
    spans, jobs, _, _ = layers.load(spans_path)
    kids = layers.children(spans)
    direct = {}
    for j in jobs:
        direct.setdefault(j["span"], []).append(j)
    roots = [s for s in spans.values() if s["parent"] == 0]
    ops = [s for s in roots if s["name"].startswith("op.")]

    rows = {}
    for s in spans.values():
        cover = [(spans[c]["t0"], spans[c]["t1"]) for c in kids.get(s["id"], [])]
        dur = (s["t1"] - s["t0"]) / 1e6
        self_ms = dur - layers.union_ms(cover)
        wait_ms = layers.union_ms([(j["t0"], j["t1"]) for j in direct.get(s["id"], [])
                                   if j["t1"] > 0])
        n_jobs = sum(len(direct.get(x, [])) for x in layers.subtree(s["id"], kids))
        r = rows.setdefault(s["name"], {"n": 0, "self": [], "wait": [], "jobs": []})
        r["n"] += 1
        r["self"].append(self_ms)
        r["wait"].append(wait_ms)
        r["jobs"].append(n_jobs)

    outside = 0
    for r in ops:
        for sid in layers.subtree(r["id"], kids) - {r["id"]}:
            c = spans[sid]
            if c["t0"] < r["t0"] or c["t1"] > r["t1"]:
                outside += 1
    windows = [(r["t0"], r["t1"]) for r in ops]
    unattributed = sum(1 for j in jobs if j["span"] == 0
                       and any(a <= j["t0"] <= b for a, b in windows))
    return rows, len(ops), outside, unattributed


def main():
    tdir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "traces")
    dumps = sorted(glob.glob(os.path.join(tdir, "*.spans.jsonl")))
    if not dumps:
        raise SystemExit(f"no span dumps under {tdir}; run perfbench/run.py --trace 1 first")
    for path in dumps:
        base = path[:-len(".spans.jsonl")]
        rows, n_ops, outside, unattributed = summarise(path)
        print(f"== {os.path.basename(base)}  ({n_ops} traced ops)")
        print(f"   {'span':34s} {'n':>4s} {'self ms':>10s} {'wait ms':>10s} {'jobs':>7s}")
        for name in sorted(rows):
            r = rows[name]
            print(f"   {name:34s} {r['n']:4d} {med(r['self']):10.1f} {med(r['wait']):10.1f} "
                  f"{sum(r['jobs']) / r['n']:7.1f}")
        print(f"   child spans outside their op: {outside}")
        print(f"   trace.unattributed_jobs: {unattributed}")
        traced = f"{base}-trace1.json"
        plain = f"{base}-trace0.json"
        if os.path.exists(traced):
            t = json.load(open(traced))
            res = t["result"]
            print(f"   listener drain on the client thread: "
                  f"{res['trace_ms']:.0f} ms of {res['loop_ms']:.0f} ms loop "
                  f"({res['trace_ms'] / res['loop_ms']:.1%})")
            if os.path.exists(plain):
                p = json.load(open(plain))
                tp, pp = t["summary"], p["summary"]
                rate = lambda r: len(r["ops"]) / (r["loop_ms"] / 1000.0)
                print(f"   traced vs untraced ops/s: {rate(res):.3f} vs {rate(p['result']):.3f}")
                for kind, v in sorted(tp["p50_ms_by_kind"].items()):
                    u = pp["p50_ms_by_kind"].get(kind)
                    if u:
                        print(f"   traced vs untraced {kind} p50: {v:.0f} vs {u:.0f} ms "
                              f"({v / u - 1:+.1%})")


if __name__ == "__main__":
    main()
