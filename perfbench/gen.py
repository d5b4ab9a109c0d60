"""Seeded input generator for the benchmark.

Writes the ten tables the query catalogs read (lineitem, orders, events,
documents, embeddings, customer, part, supplier, nation, region) as one
parquet file each, with the schemas and value ranges of the TPC-H-ish
test data that TESTDATA.md describes. Everything is drawn from `--seed`;
the same seed gives byte-identical files.

One shape serves every workload. The row tables (lineitem, orders,
events, customer, part, supplier) are drawn at sf0.1: 600 k lineitem
rows and 100 k events, so the flox-core reductions and scans pay row
work. The text and vector tables (documents, embeddings) keep the
sf0.01 base size of 500 rows each, so the pipeline operators over them
pay their per-query floor. Ids start at 0, so the `doc_id < 50` slice
and every residue class exist. The seed varies the measures, the text
and its planted near-dups, the vector noise, the hot events user, the
row order and the parquet row-group size.

Usage: python3 gen.py --seed N --out DIR
Prints one line per table: rows and bytes.
"""

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


# Row counts: sf0.1 of the sf0.001/0.01/0.1 ladder of TESTDATA.md for
# the row tables, the sf0.01 base size for the text and vector tables.
SIZES = {
    "lineitem": 600_000, "orders": 150_000, "events": 100_000,
    "customer": 15_000, "part": 20_000, "supplier": 1_000,
    "documents": 500, "embeddings": 500,
}


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def ts_array(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def shuffled(rng, table):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def base_text(rng, n_docs):
    """Random-vocabulary documents; ~5% are an earlier document plus one
    appended token (the planted near-dup pairs)."""
    lens = rng.integers(10, 100, n_docs)
    docs = [" ".join(rng.choice(VOCAB, size=k)) for k in lens]
    for i in range(1, n_docs):
        if rng.random() < 0.05:
            docs[i] = docs[int(rng.integers(0, i))] + " dup"
    return docs


def generate(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    n_users = max(10, n["events"] // 66)
    n_orders, n_cust, n_part, n_supp = n["orders"], n["customer"], n["part"], n["supplier"]
    texts = base_text(rng, n["documents"])
    labels = rng.integers(0, 10, n["embeddings"]).astype(np.int32)
    centroids = rng.normal(0, 1, (10, 64))
    out = {}
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": ts_array(EPOCH_1995 + DAY_US * rng.integers(1, 2500, nl)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n_orders)),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": ts_array(EPOCH_1995 + DAY_US * rng.integers(0, 2405, n_orders)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    ne = n["events"]
    # one hot user carries ~10% of the events: the skew tiers'
    # (asof/rolling/sessions *_skewed) reason to exist
    users = rng.integers(0, n_users, ne)
    users[rng.random(ne) < 0.10] = int(rng.integers(0, n_users))
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": ts_array(ts),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(60.0, ne), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, ne)]),
    })
    nd = len(texts)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array(["src%d" % (i % 20) for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = len(labels)
    vec = centroids[labels] + rng.normal(0, 2.0, (nv, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    out = {k: shuffled(rng, t) for k, t in out.items()}
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(["%s %s" % (ADJ[a], NOUN[b]) for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp)),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    # seed-chosen row-group size: the file split varies, the content not
    row_group = int(rng.choice([50_000, 100_000, 250_000, 1_000_000]))
    return out, row_group


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tables, row_group = generate(a.seed)
    os.makedirs(a.out, exist_ok=True)
    report = {}
    for name, t in sorted(tables.items()):
        path = os.path.join(a.out, name + ".parquet")
        pq.write_table(t, path, row_group_size=row_group)
        report[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
        print("[gen] %-10s rows=%d bytes=%d" % (name, t.num_rows, report[name]["bytes"]))
    with open(os.path.join(a.out, "_tables.json"), "w") as f:
        json.dump({"seed": a.seed, "tables": report}, f)


if __name__ == "__main__":
    sys.exit(main())
