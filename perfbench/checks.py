"""Output checks, run after the engine exits (outside the timed region).

index_churn: every search answer is re-derived in plain numpy over the
vectors the graph indexes at that point of the run (the corpus minus the
held-out vec_id 0, plus appended, minus deleted ids). An answer is wrong if
it returns a non-live or repeated id, fewer than k rows, ranks out of order,
or a similarity that differs from the benchmark's own cosine. Recall@5
against the exact top-5 is reported; a run whose mean recall falls below
RECALL_FLOOR is not correct.

query_mix: each query's output is compared with its DuckDB oracle from
SparkEntry.oracleSql, the way tools/check.py does (columns sorted by name,
rows in order), except that floats may differ by summation-order noise
(see same_value); a query without an oracle must at least produce its
output.
"""
import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq

K = 5
SIM_TOL = 1e-5
RECALL_FLOOR = 0.8


def _corpus(data_dir):
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    return {int(i): v for i, v in zip(ids, x)}


def replay_churn(ops_file, vectors):
    """Yield (query vector, live ids) for each search, in op order."""
    live = set(vectors) - {0}
    lines = open(ops_file).read().splitlines()
    i = 0
    while i < len(lines):
        f = lines[i].split(" ")
        if f[0] == "Q":
            yield np.array(f[1:], dtype=np.float32), live
        elif f[0] == "U":
            live = set(live)
            live.difference_update(int(v) for v in f[2].split(","))
            for a in lines[i + 1:]:
                if not a.startswith("A"):
                    break
                g = a.split(" ")
                vectors[int(g[1])] = np.array(g[2:], dtype=np.float32)
                live.add(int(g[1]))
                i += 1
        i += 1


def check_search(q, live, answer, vectors):
    """Return (problem or None, recall) for one top-k answer."""
    ids = np.array(sorted(live))
    m = np.stack([vectors[i] for i in ids]).astype(np.float64)
    qd = q.astype(np.float64)
    cos = (m @ qd) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qd))
    order = np.lexsort((ids, -cos))[:K]
    exact = set(ids[order].tolist())
    got = [i for i, _ in answer]
    recall = len(exact & set(got)) / K
    if len(got) != min(K, len(ids)) or len(set(got)) != len(got):
        return f"expected {K} distinct ids, got {got}", recall
    pos = {int(v): j for j, v in enumerate(ids)}
    for vid, sim in answer:
        if vid not in pos:
            return f"id {vid} is not live", recall
        if abs(sim - cos[pos[vid]]) > SIM_TOL:
            return f"id {vid}: sim {sim} but cosine {cos[pos[vid]]:.7f}", recall
    sims = [s for _, s in answer]
    if any(a < b for a, b in zip(sims, sims[1:])):
        return f"ranks out of order: {sims}", recall
    return None, recall


def check_searches(out_dir, data_dir, ops_file):
    vectors = _corpus(data_dir)
    answers = []
    with open(os.path.join(out_dir, "searches.txt")) as f:
        for line in f:
            parts = line.split()
            pairs = [p.split(":") for p in parts[3].split(",")] if len(parts) > 3 else []
            answers.append([(int(a), float(b)) for a, b in pairs])
    problems, recalls, live = [], [], set()
    for n, ((q, live), ans) in enumerate(zip(replay_churn(ops_file, vectors), answers)):
        p, r = check_search(q, live, ans, vectors)
        recalls.append(r)
        if p:
            problems.append(f"search {n}: {p}")
    return problems, recalls, len(live)


def _decimals(x):
    text = repr(float(x))
    return len(text.split(".")[1]) if "." in text and "e" not in text else 0


def same_value(a, b):
    """Cells compare as text, as tools/check.py does, except floats.

    Spark and DuckDB sum doubles in different orders, so a rounded
    aggregate can land one unit apart in its last decimal (seed 407's
    q19_disjunctive revenue: 17895821.42 against 17895821.41). Two floats
    match when they agree to 1e-9 relative, or, when both are rounded to at
    most 6 decimals, differ by at most one unit in that last decimal.
    """
    if isinstance(a, float) and isinstance(b, float):
        if a == b or (a != a and b != b):
            return True
        diff = abs(a - b)
        if diff <= 1e-9 * max(abs(a), abs(b)):
            return True
        k = max(_decimals(a), _decimals(b))
        return k <= 6 and diff <= 10.0 ** -k * (1 + 1e-6)
    return str(a) == str(b)


def rows(df):
    df = df[sorted(df.columns)]
    return [tuple(row) for row in df.itertuples(index=False)]


def same_rows(got, want):
    a, b = rows(got), rows(want)
    return len(a) == len(b) and all(
        len(x) == len(y) and all(same_value(u, v) for u, v in zip(x, y)) for x, y in zip(a, b))


def check_queries(out_dir, data_dir, names):
    """DuckDB oracle comparison of each query's verification output."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    vdir = os.path.join(out_dir, "verify")
    path = os.path.join(vdir, "oracle_sql.json")
    oracles = json.load(open(path)) if os.path.exists(path) else {}
    bad, rows = {}, {}
    for name in names:
        files = glob.glob(os.path.join(vdir, name, "*.parquet"))
        if not files:
            bad[name] = "no output"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        rows[name] = len(got)
        if name not in oracles:
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif not same_rows(got, want):
            bad[name] = f"rows differ (engine {len(got)}, oracle {len(want)})"
    return bad, rows, sorted(set(names) - set(oracles))


def check(workload, res, out_dir, data_dir, ops_file):
    ops = res["ops"]
    failed_ops = [i for i, o in enumerate(ops) if not o[2]]
    problems = [f"op {i} ({ops[i][0]}) raised" for i in failed_ops]
    extra = {}
    wrong = 0
    if workload == "index_churn":
        ps, recalls, extra["live_vectors"] = check_searches(out_dir, data_dir, ops_file)
        problems += ps
        wrong = len(ps)
        extra["recall_at_5"] = float(np.mean(recalls)) if recalls else 0.0
        extra["searches_checked"] = len(recalls)
        if recalls and extra["recall_at_5"] < RECALL_FLOOR:
            problems.append(f"mean recall@5 {extra['recall_at_5']:.3f} < {RECALL_FLOOR}")
    elif workload == "query_mix":
        executed = {line.split(" ", 1)[1] for line in open(ops_file).read().splitlines()[:len(ops)]}
        bad, rows, unoracled = check_queries(out_dir, data_dir, sorted(executed))
        for name, why in sorted(bad.items()):
            problems.append(f"{name}: {why}")
        # a wrong query makes every execution of it a wrong result
        lines = open(ops_file).read().splitlines()
        wrong = sum(1 for i, o in enumerate(ops) if o[2] and lines[i].split(" ", 1)[1] in bad)
        extra["queries_checked"] = len(executed)
        extra["rows_only"] = unoracled
    failed = len(failed_ops) + wrong
    return {"correct": not problems, "attempted": len(ops), "failed": failed,
            "problems": problems, "extra": extra}
