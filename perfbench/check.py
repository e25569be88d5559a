"""Output checks for the query workloads.

Every warm-up dump (one parquet directory per catalog entry) gets a
row count and an order-insensitive content digest. Entries with oracle
SQL are cross-checked against DuckDB over the same generated inputs,
with the comparison rules of the catalog's correctness gate
(tools/localverify.py): identical column sets and row counts, numeric
kinds that agree (integer vs float) and exactly equal values (both
sides round floats to 6 decimals). Rows are compared as multisets of
row hashes, so the check does not depend on output order.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _normalized(df):
    """Columns in name order, each cast to one representation per kind."""
    cols = sorted(df.columns)
    out = pd.DataFrame(index=range(len(df)))
    for c in cols:
        v = df[c].reset_index(drop=True)
        k = v.dtype.kind
        if k in "fc":
            out[c] = v.astype(float)
        elif k in "iub":
            out[c] = v.astype("Int64")
        elif k == "M":
            out[c] = v.astype("datetime64[ns]").astype("int64")
        else:
            out[c] = v.map(lambda x: repr(list(x)) if isinstance(x, (list, np.ndarray))
                           else x).astype(str)
    return out


def _row_hashes(df):
    """Sorted per-row hashes: an order-insensitive fingerprint of the rows."""
    return np.sort(pd.util.hash_pandas_object(_normalized(df), index=False).values)


def digest(df):
    return hashlib.sha256(_row_hashes(df).tobytes()).hexdigest()[:16]


def compare(spark, oracle):
    scols, ocols = sorted(spark.columns), sorted(oracle.columns)
    if scols != ocols:
        return f"schema mismatch: spark={scols} oracle={ocols}"
    if len(spark) != len(oracle):
        return f"row count: spark={len(spark)} oracle={len(oracle)}"
    for c in scols:
        sk, ok = spark[c].dtype.kind, oracle[c].dtype.kind
        if sk in "iuf" and ok in "iuf" and (sk == "f") != (ok == "f"):
            return f"col {c}: dtype kind mismatch spark={spark[c].dtype} oracle={oracle[c].dtype}"
    diff = int((_row_hashes(spark) != _row_hashes(oracle)).sum())
    return f"{diff}/{len(spark)} rows differ" if diff else None


def verify_dumps(dumps, data_dir):
    """Prints one line per entry; returns the failures."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    problems = []
    for name, d in sorted(dumps.items()):
        files = sorted(glob.glob(os.path.join(d["path"], "*.parquet")))
        if not files:
            problems.append(f"{name}: no output")
            continue
        spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        verdict = "no oracle"
        if d["oracle"] is not None:
            try:
                err = compare(spark, con.execute(d["oracle"]).df())
            except duckdb.Error as e:
                err = f"oracle error: {e}"
            verdict = "oracle pass" if err is None else "oracle FAIL"
            if err:
                problems.append(f"{name}: {err}")
        print(f"[check] {name} rows={len(spark)} digest={digest(spark)} {verdict}")
    return problems
