#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from source
on first use (into .bench_build/), generates the seeded inputs, drives the
engine through perfbench/harness, checks every output outside the timed
region, and prints one JSON result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and keeps the span dump under .bench_build/traces/ for trace_summary.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "heap_mb": "MB",
}
DEADLINE_S = 175          # a run must end within 180 s once built
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_home():
    h = os.environ.get("SPARK_HOME")
    if not h:
        sub = shutil.which("spark-submit")
        h = os.path.dirname(os.path.dirname(os.path.realpath(sub))) if sub else None
    if not h or not os.path.isdir(os.path.join(h, "jars")):
        raise SystemExit("perfbench: no Spark install found (set SPARK_HOME)")
    return h


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built():
    """Compile engine + harness once per source state; return the classes dir."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    digest = source_hash()
    out = os.path.join(build_dir(), "sbt")
    stamp = os.path.join(build_dir(), "built.json")
    classes = os.path.join(out, "scala-2.13", "classes")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f).get("source") == digest and os.path.isdir(classes):
                return classes, digest
    os.makedirs(build_dir(), exist_ok=True)
    log(f"building engine + harness (sources {digest}) ...")
    # the build resolves nothing new: the Scala toolchain comes from the
    # local caches, and Spark from SPARK_HOME
    env = dict(os.environ, PERFBENCH_TARGET=out, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    with open(os.path.join(build_dir(), "build.log"), "w") as lf:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                              "-Dsbt.server.autostart=false", "compile"],
                             cwd=os.path.join(HERE, "harness"), env=env,
                             stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isdir(classes):
        with open(os.path.join(build_dir(), "build.log")) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        json.dump({"source": digest, "build_s": time.time() - t0}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classes, digest


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "not-a-git-checkout"
    except (OSError, subprocess.SubprocessError):
        return "not-a-git-checkout"


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classes, wl, run_dir, data_dir, ops_file, seconds, trace, ncores, deadline):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    out = os.path.join(run_dir, "out")
    for d in (tmp, local, out):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
            "perfbench.Harness", wl["name"], data_dir, ops_file, out, str(seconds),
            str(trace), str(ncores)]
    cmd += wl.get("harness_args", [])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    if wl.get("verify_only"):
        env["SPARK_GRAFT_ONLY"] = ",".join(wl["verify_only"])
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: engine run exceeded the time limit")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as lf:
            sys.stderr.write("".join(l for l in lf.readlines()[-30:]))
        raise SystemExit(f"perfbench: engine run failed (exit {rc})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the per-run directory")
    ap.add_argument("--sf", type=float, help="override the workload's scale (self-test)")
    args = ap.parse_args()

    start = time.time()
    launch_load = os.getloadavg()[0]
    classes, digest = ensure_built()
    deadline = time.time() + DEADLINE_S   # the first run in a checkout also builds
    wl = dict(WORKLOADS[args.workload], name=args.workload)
    if args.sf:
        wl["sf"] = args.sf
    ncores = cores()

    run_dir = os.path.join(build_dir(), "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        phases = {"build": time.time() - start}
        t = time.time()
        gen.write_tables(data_dir, wl["sf"], args.seed, wl["tables"])
        ops_file = os.path.join(run_dir, "ops.txt")
        gen.write_ops(ops_file, args.workload, args.seed, data_dir, wl["ops"])
        phases["generate"] = time.time() - t
        t = time.time()
        ticks0 = cpu_ticks()
        res, out = run_jvm(classes, wl, run_dir, data_dir, ops_file, args.seconds,
                           args.trace, ncores, deadline)
        phases["engine"] = time.time() - t
        ticks1 = cpu_ticks()
        # share of CPU time the hypervisor withheld while the engine ran:
        # the main source of run-to-run drift on a shared VM
        steal = ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
                 if ticks0 and ticks1 else None)
        t = time.time()
        verdict = checks.check(args.workload, res, out, data_dir, ops_file)
        phases["check"] = time.time() - t

        ops = res["ops"]
        kinds = sorted({o[0] for o in ops})
        lat = [o[1] for o in ops if o[0] == wl["primary"] and o[2]]
        e2e = {
            "setup_s": (res["session_ms"] + sum(res["setup_ms"].values())) / 1000.0,
            "ops_per_s": len(ops) / (res["loop_ms"] / 1000.0),
            "p50_ms": median(lat),
            "heap_mb": res["heap_mb"],
        }
        stamp = {
            "nproc": ncores, "master": f"local[{ncores}]", "launch_load": launch_load,
            "cpu_steal_frac": steal,
            "jvm": res["jvm"], "spark": res["spark"],
            "commit": git_commit(), "sources": digest, "seed": args.seed,
            "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        }
        summary = {
            "samples": {k: sum(1 for o in ops if o[0] == k) for k in kinds},
            "p50_ms_by_kind": {k: median([o[1] for o in ops if o[0] == k and o[2]]) for k in kinds},
            "error_frac": (verdict["failed"] / verdict["attempted"]) if verdict["attempted"] else 0.0,
            "setup_ms": res["setup_ms"], "session_ms": res["session_ms"],
            "loop_ms": res["loop_ms"], "wall_s": phases,
            **verdict["extra"],
        }
        print("perfbench stamp: " + json.dumps(stamp))
        print("perfbench summary: " + json.dumps(summary))
        for m in verdict["problems"][:20]:
            print(f"perfbench check: {m}")

        keep = os.path.join(build_dir(), "traces")
        os.makedirs(keep, exist_ok=True)
        base = os.path.join(keep, f"{args.workload}-seed{args.seed}")
        if args.trace:
            metrics, units = layers.per_layer(args.workload, wl, res, out, ncores, summary), layers.UNITS
            shutil.copy(os.path.join(out, "spans.jsonl"), base + ".spans.jsonl")
        else:
            metrics, units = e2e, END_TO_END
        with open(f"{base}-trace{args.trace}.json", "w") as f:
            json.dump({"stamp": stamp, "summary": summary, "result": res, "metrics": metrics}, f)
        result = {
            "correct": verdict["correct"],
            "attempted": verdict["attempted"],
            "failed": verdict["failed"],
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if args.keep:
            print(f"perfbench kept: {run_dir}")
        else:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
