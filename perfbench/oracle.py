#!/usr/bin/env python3
"""Inputs and expected answers for the dedup_ops_sf01 workload.

  oracle.py subset --src <documents.parquet> --out <dir> --seed <n> --docs <k>
      Writes a seeded subset of k documents to <out>/documents.parquet, rows
      in id order.

  oracle.py expect --data <dir> --sql <oracle_sql.json> --out <dir>
      Runs each query's SparkEntry.oracleSql text with DuckDB over the subset
      and writes the answer to <out>/<query>.parquet. q22 (exact all-pairs
      token Jaccard >= 0.9) is the one exception: DuckDB's list_intersect
      formulation takes minutes at 3,000 documents, so its answer comes from
      the same definition evaluated as a dense token-incidence product here.
      Answers are cached in <out> for the same SQL and data.
"""
import argparse
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

Q22 = "q22_minhash_dedup"
Q22_TAU = 0.9


def subset(args):
    os.makedirs(args.out, exist_ok=True)
    tbl = pq.read_table(args.src)
    if args.docs > tbl.num_rows:
        sys.exit(f"asked for {args.docs} documents of {tbl.num_rows}")
    rng = np.random.RandomState(args.seed % (2 ** 32))
    rows = np.sort(rng.choice(tbl.num_rows, size=args.docs, replace=False))
    pq.write_table(tbl.take(pa.array(rows)), os.path.join(args.out, "documents.parquet"))


def token_jaccard_pairs(docs, tau):
    """Exact all-pairs Jaccard of list_distinct(str_split(lower(text), ' '))."""
    docs = docs.sort_by("doc_id")
    ids = docs.column("doc_id").to_numpy()
    sets = [set(t.lower().split(" ")) for t in docs.column("text").to_pylist()]
    vocab = {t: i for i, t in enumerate(sorted(set().union(*sets)))}
    x = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for r, s in enumerate(sets):
        x[r, [vocab[t] for t in s]] = 1.0
    size = x.sum(axis=1).astype(np.float64)
    out1, out2, out3 = [], [], []
    step = 512
    for lo in range(0, len(ids), step):
        inter = (x[lo:lo + step] @ x.T).astype(np.float64)
        union = size[lo:lo + step, None] + size[None, :] - inter
        jacc = inter / union
        r, c = np.nonzero((jacc >= tau) & (ids[None, :] > ids[lo:lo + step, None]))
        out1.append(ids[lo + r])
        out2.append(ids[c])
        out3.append(np.round(jacc[r, c], 6))
    return pa.table({"id1": np.concatenate(out1), "id2": np.concatenate(out2),
                     "jaccard": np.concatenate(out3)})


def expect(args):
    os.makedirs(args.out, exist_ok=True)
    sql = json.load(open(args.sql))
    docs_path = os.path.join(args.data, "documents.parquet")
    key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    key.update(open(docs_path, "rb").read())
    stamp = os.path.join(args.out, "KEY")
    if os.path.exists(stamp) and open(stamp).read() == key.hexdigest():
        return
    con = duckdb.connect()
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
    for name, text in sorted(sql.items()):
        path = os.path.join(args.out, f"{name}.parquet")
        if name == Q22:
            pq.write_table(token_jaccard_pairs(pq.read_table(docs_path), Q22_TAU), path)
        else:
            con.sql(f"COPY ({text}) TO '{path}' (FORMAT PARQUET)")
    with open(stamp, "w") as f:
        f.write(key.hexdigest())


def main():
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("subset")
    s.add_argument("--src", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--docs", type=int, required=True)
    e = sub.add_parser("expect")
    e.add_argument("--data", required=True)
    e.add_argument("--sql", required=True)
    e.add_argument("--out", required=True)
    args = p.parse_args()
    subset(args) if args.cmd == "subset" else expect(args)


if __name__ == "__main__":
    main()
