"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine reads (same names, column types
and value domains as the TPC-H-ish fixture family described in
FIXTURES.md) plus the per-workload operation lists. Every table draws from
its own generator keyed on (seed, table), so the same seed always yields
byte-identical inputs and a different seed yields different ones.

Usage: python3 gen.py <out_dir> --seed N [--sf 0.1]   (tables only)
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data join vector customer").split()

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def rng_for(seed, name):
    """Independent stream per (seed, name): adding a table shifts no other."""
    return np.random.default_rng([seed, sum(ord(c) * 131 ** i for i, c in enumerate(name)) % (2 ** 31)])


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(100, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(r, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + r.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def unit_rows(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def embeddings_matrix(seed, n):
    """Corpus vectors: unit-norm f32 with a weak per-label direction, and labels."""
    r = rng_for(seed, "embeddings")
    labels = r.integers(0, 10, n).astype(np.int32)
    centres = unit_rows(r.standard_normal((10, DIM)))
    x = r.standard_normal((n, DIM)) / np.sqrt(DIM) + 0.6 * centres[labels]
    return unit_rows(x), labels


def _documents(r, n):
    lens = r.integers(10, 101, n)
    texts = []
    for i in range(n):
        u = r.random()
        if i > 0 and u < 0.05:          # near-duplicate of an earlier doc
            words = texts[r.integers(0, i)].split()
            words[r.integers(0, len(words))] = WORDS[r.integers(0, len(WORDS))]
            texts.append(" ".join(words) + " dup")
        elif i > 0 and u < 0.052:       # exact duplicate
            texts.append(texts[r.integers(0, i)])
        else:
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), lens[i])))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def make_table(name, sf, seed):
    s = sizes(sf)
    r = rng_for(seed, name)
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    if name == "region":
        return pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    if name == "nation":
        return pa.table({"n_nationkey": i32(range(25)),
                         "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                         "n_regionkey": i32([i % 5 for i in range(25)])})
    if name == "customer":
        n = s["customer"]
        return pa.table({"c_custkey": i64(np.arange(n)),
                         "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
                         "c_nationkey": i32(r.integers(0, 25, n)),
                         "c_acctbal": pa.array(_money(r, n, -999.99, 9999.99)),
                         "c_mktsegment": pa.array(r.choice(SEGMENTS, n))})
    if name == "supplier":
        n = s["supplier"]
        return pa.table({"s_suppkey": i64(np.arange(n)),
                         "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
                         "s_nationkey": i32(r.integers(0, 25, n)),
                         "s_acctbal": pa.array(_money(r, n, -999.99, 9999.99))})
    if name == "part":
        n = s["part"]
        names = [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                 for a, b in zip(r.integers(0, 8, n), r.integers(0, 8, n))]
        return pa.table({"p_partkey": i64(np.arange(n)),
                         "p_name": pa.array(names),
                         "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
                         "p_type": pa.array(r.choice(PART_TYPES, n)),
                         "p_size": i32(r.integers(1, 51, n)),
                         "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) * 0.1, 2))})
    if name == "orders":
        n = s["orders"]
        return pa.table({"o_orderkey": i64(np.arange(n)),
                         "o_custkey": i64(r.integers(0, s["customer"], n)),
                         "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n)),
                         "o_totalprice": pa.array(_money(r, n, 1000.0, 500000.0)),
                         "o_orderdate": pa.array(_days(r, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
                         "o_orderpriority": pa.array(r.choice(PRIORITIES, n))})
    if name == "lineitem":
        n = s["lineitem"]
        return pa.table({"l_orderkey": i64(r.integers(0, s["orders"], n)),
                         "l_partkey": i64(r.integers(0, s["part"], n)),
                         "l_suppkey": i64(r.integers(0, s["supplier"], n)),
                         "l_linenumber": i32(r.integers(1, 8, n)),
                         "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
                         "l_extendedprice": pa.array(_money(r, n, 900.0, 105000.0)),
                         "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
                         "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
                         "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
                         "l_linestatus": pa.array(r.choice(["F", "O"], n)),
                         "l_shipdate": pa.array(_days(r, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)))})
    if name == "events":
        n = s["events"]
        start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        ts = np.sort(start + r.integers(0, 30 * 86_400_000_000, n))
        return pa.table({"event_id": i64(np.arange(n)),
                         "ts": pa.array(ts.astype("datetime64[us]")),
                         "user_id": i64(r.integers(0, s["users"], n)),
                         "event_type": pa.array(r.choice(EVENT_TYPES, n)),
                         "value": pa.array(np.round(r.exponential(50.0, n), 2)),
                         "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})
    if name == "documents":
        return _documents(r, s["documents"])
    if name == "embeddings":
        x, labels = embeddings_matrix(seed, s["embeddings"])
        return pa.table({"vec_id": i64(np.arange(len(x))),
                         "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
                         "label": i32(labels)})
    raise ValueError(name)


def write_tables(out_dir, sf, seed, tables=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        pq.write_table(make_table(t, sf, seed), os.path.join(out_dir, f"{t}.parquet"),
                       compression="snappy")


# ---------------------------------------------------------------- workloads

def perturbed_queries(r, x, base_ids, noise=0.5):
    """Unit vectors near corpus rows `base_ids`, never equal to any stored row."""
    g = unit_rows(r.standard_normal((len(base_ids), DIM)))
    return unit_rows(x[base_ids] + noise * g)


def stratified_rows(r, labels, count):
    """`count` corpus rows (never row 0), their labels cycling through a
    seeded permutation of all labels, so every run's rows cover the
    corpus clusters evenly instead of piling into a few of them."""
    groups = [np.flatnonzero(labels == l) for l in np.unique(labels)]
    groups = [g[g != 0] for g in groups]
    order = []
    while len(order) < count:
        order.extend(r.permutation(len(groups)).tolist())
    return np.array([r.choice(groups[g]) for g in order[:count]])


def index_churn_ops(seed, x, labels, n_updates, batch, reads_per_update):
    """Rounds of one update (fresh ids appended, live ids deleted) followed
    by the searches that read the changed graph. vec_id 0 is the graph's
    held-out row, never a member. Appended vectors and searches start from
    label-stratified corpus rows."""
    r = rng_for(seed, "index_churn")
    n = len(x)
    live = list(range(1, n))
    next_id = 1_000_000
    rounds = []
    for _ in range(n_updates):
        new_vecs = perturbed_queries(r, x, stratified_rows(r, labels, batch), noise=0.8)
        new_ids = list(range(next_id, next_id + batch))
        next_id += batch
        pick = sorted(r.choice(len(live), batch, replace=False).tolist(), reverse=True)
        dels = [live.pop(i) for i in pick]
        live.extend(new_ids)
        searches = perturbed_queries(r, x, stratified_rows(r, labels, reads_per_update))
        rounds.append({"append_ids": new_ids, "append": new_vecs, "delete": sorted(dels),
                       "searches": searches})
    return rounds


def query_mix_order(seed, names, passes):
    r = rng_for(seed, "query_mix")
    return [[names[i] for i in r.permutation(len(names))] for _ in range(passes)]


def fmt_vec(v):
    return " ".join(f"{float(f):.9g}" for f in v)


def write_ops(path, workload, seed, sf_dir, params):
    """The operation list the engine-side harness replays, one op per line.

    index_churn:  U <id,id,...> <del,del,...>, one A <id> <vec> line per
                  appended vector, then the round's Q <vec> searches
    query_mix:    M <query name>
    """
    with open(path, "w") as f:
        if workload == "index_churn":
            t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
            x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
            labels = t.column("label").to_numpy()
            for rd in index_churn_ops(seed, x, labels, params["updates"], params["batch"],
                                      params["reads_per_update"]):
                f.write("U " + ",".join(map(str, rd["append_ids"])) + " "
                        + ",".join(map(str, rd["delete"])) + "\n")
                for i, v in zip(rd["append_ids"], rd["append"]):
                    f.write(f"A {i} {fmt_vec(v)}\n")
                for q in rd["searches"]:
                    f.write(f"Q {fmt_vec(q)}\n")
        elif workload == "query_mix":
            for pass_names in query_mix_order(seed, params["names"], params["passes"]):
                for nm in pass_names:
                    f.write(f"M {nm}\n")
        else:
            raise ValueError(workload)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()
    write_tables(args.out_dir, args.sf, args.seed)
    print(json.dumps({t: pq.ParquetFile(os.path.join(args.out_dir, f"{t}.parquet")).metadata.num_rows
                      for t in TABLES}))


if __name__ == "__main__":
    main()
