#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. Inputs: the same seed generates byte-identical inputs, another seed
   different ones.
2. Output: a tiny untraced and traced run of each workload (sf 0.001)
   prints every metric BENCHMARK.json names, with its unit.
3. Checkers: a deliberately corrupted result of each workload is counted
   as a failure, so the checks are not vacuous.

Exits non-zero on the first failed assertion.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from run import build_dir  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY_SF = 0.001


def digest_file(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def digest(d):
    return "".join(f + digest_file(os.path.join(d, f)) for f in sorted(os.listdir(d)))


def inputs(scratch, workload, seed):
    d = os.path.join(scratch, f"{workload}-{seed}-{len(os.listdir(scratch))}")
    data = os.path.join(d, "data")
    gen.write_tables(data, TINY_SF, seed, WORKLOADS[workload]["tables"])
    gen.write_ops(os.path.join(d, "ops.txt"), workload, seed, data, WORKLOADS[workload]["ops"])
    return digest(data) + digest_file(os.path.join(d, "ops.txt"))


def run(workload, seed, trace, keep=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--sf", str(TINY_SF)]
    if keep:
        cmd.append("--keep")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    kept = [l.split(": ", 1)[1] for l in lines if l.startswith("perfbench kept: ")]
    return json.loads(lines[-1]), (kept[0] if kept else None)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    scratch = os.path.join(build_dir(), "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        for w in spec["workloads"]:
            name = w["name"]
            a, b, c = inputs(scratch, name, 7), inputs(scratch, name, 7), inputs(scratch, name, 8)
            assert a == b, f"{name}: seed 7 generated different inputs twice"
            assert a != c, f"{name}: seeds 7 and 8 generated the same inputs"
            print(f"ok   {name}: inputs are a function of the seed")

            for trace, group in ((0, "end_to_end"), (1, "per_layer")):
                res, kept = run(name, 7, trace, keep=(trace == 0))
                assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
                assert res["correct"] and res["failed"] == 0, res
                for m in spec[group]:
                    got = res["metrics"].get(m["name"])
                    assert got is not None, f"{name}: {m['name']} missing"
                    assert got["unit"] == m["unit"], f"{name}: {m['name']} unit {got['unit']}"
                extra = set(res["metrics"]) - {m["name"] for m in spec[group]}
                assert not extra, f"{name}: undeclared metrics {extra}"
                print(f"ok   {name}: trace {trace} prints every {group} metric with its unit")
                if kept:
                    corrupt_and_check(name, kept)
                    shutil.rmtree(kept, ignore_errors=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selftest passed")


def corrupt_and_check(name, run_dir):
    out, data, ops = (os.path.join(run_dir, x) for x in ("out", "data", "ops.txt"))
    if name == "index_churn":
        problems, _, _ = checks.check_searches(out, data, ops)
        assert not problems, problems
        path = os.path.join(out, "searches.txt")
        lines = open(path).read().splitlines()
        head, pairs = lines[0].rsplit(" ", 1)
        first, rest = pairs.split(",", 1)
        vid, sim = first.split(":")
        lines[0] = f"{head} {vid}:{float(sim) - 0.01},{rest}"
        open(path, "w").write("\n".join(lines) + "\n")
        problems, _, _ = checks.check_searches(out, data, ops)
        assert problems, "a corrupted similarity was not detected"
    else:
        names = sorted({l.split(" ", 1)[1] for l in open(ops).read().splitlines()})
        bad, rows, unoracled = checks.check_queries(out, data, names)
        assert not bad, bad
        victim = next(n for n in names if rows.get(n) and n not in unoracled)
        f = next(f for f in sorted(glob.glob(os.path.join(out, "verify", victim, "*.parquet")))
                 if pq.ParquetFile(f).metadata.num_rows)
        t = pq.read_table(f)
        pq.write_table(t.slice(0, t.num_rows - 1), f)
        bad, _, _ = checks.check_queries(out, data, names)
        assert victim in bad, f"a truncated {victim} output was not detected"
    print(f"ok   {name}: a corrupted result is counted as a failure")


if __name__ == "__main__":
    main()
