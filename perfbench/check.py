"""Output check for the batch workloads: each query's Spark result
(parquet, written once per run by the JVM) against DuckDB running the
query's oracle SQL over the same generated tables. Canonicalization is
that of scripts/check_oracle.py: columns sorted by name, rows sorted,
exact match with NaN == NaN and null == null.
"""

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when equal, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return "columns %s vs %s" % (list(got.columns), list(want.columns))
    if len(got) != len(want):
        return "rows %d vs %d" % (len(got), len(want))
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        na, nb = pd.isna(a), pd.isna(b)
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            fa = np.where(na, 0.0, a).astype("f8")
            fb = np.where(nb, 0.0, b).astype("f8")
            same = (na & nb) | (~na & ~nb & ((fa == fb) | (np.isnan(fa) & np.isnan(fb))))
        else:
            same = (na & nb) | (~na & ~nb & (a == b))
        if not np.asarray(same, bool).all():
            i = int(np.argmin(same))
            return "col %s row %d: spark=%r duckdb=%r" % (c, i, a[i], b[i])
    return None


def check(data_dir, out_dir, names):
    """{query: reason} for every query in `names` whose output is wrong."""
    oracle_path = os.path.join(out_dir, "oracle_sql.json")
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (name, p))
    fails = {}
    for name in sorted(names):
        res = os.path.join(out_dir, name)
        if name not in oracle or not os.path.isdir(res):
            continue  # the JVM already reported why
        try:
            why = compare(canon(pd.read_parquet(res)), canon(con.sql(oracle[name]).df()))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            why = "compare threw: %s" % e
        if why:
            fails[name] = why
    return fails
