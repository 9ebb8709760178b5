"""Compare dumped query outputs with their DuckDB spelling.

Each query's output is a parquet directory under OUT; OUT/oracle_sql.json
maps query names to the ANSI SQL the program ships for them
(graft.SparkEntry.oracleSql). DuckDB runs the SQL over the same input
tables; rows are compared after sorting columns by name and rows by
value, floats exactly, everything else as strings.

    python3 perfbench/oracle.py DATA_DIR OUT_DIR
"""
import glob
import json
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(spark_df, duck_df):
    """None when the two results agree, else the first difference"""
    s, k = _norm(spark_df), _norm(duck_df)
    if list(s.columns) != list(k.columns):
        return f"columns {list(s.columns)} vs {list(k.columns)}"
    if len(s) != len(k):
        return f"rows {len(s)} vs {len(k)}"
    for c in s.columns:
        if {s[c].dtype.kind, k[c].dtype.kind} in ({"i", "f"}, {"u", "f"}):
            return f"column {c}: {s[c].dtype} vs {k[c].dtype}"
        a, b = s[c].values, k[c].values
        if s[c].dtype.kind == "f" or k[c].dtype.kind == "f":
            eq = (pd.isna(a) & pd.isna(b)) | (a == b)
        else:
            eq = (pd.Series(a).astype(str) == pd.Series(b).astype(str)).values
        if not eq.all():
            i = int(np.argmin(eq))
            return f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def perturb(df):
    """a copy of `df` with one value changed"""
    df = df.copy()
    c = df.columns[0]
    v = df[c].iloc[0]
    df.loc[df.index[0], c] = (v + 1) if df[c].dtype.kind in "iuf" else (str(v) + "x")
    return df


def check(data_dir, out_dir):
    """{check name: passed} for every query with a DuckDB spelling, plus
    the negative control: a perturbed result must not pass"""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    checks, control = {}, None
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            duck_df = con.execute(oracle[name]).df()
            diff = same(spark_df, duck_df)
        except Exception as e:  # a missing output or failing SQL fails the check
            diff = repr(e)
        if diff:
            print(f"ORACLE MISMATCH {name}: {diff}", file=sys.stderr)
        checks[f"duckdb {name}"] = diff is None
        if diff is None and control is None and len(spark_df):
            control = same(perturb(spark_df), duck_df) is not None
    checks["duckdb rejects a perturbed result"] = bool(control)
    con.close()
    return checks


if __name__ == "__main__":
    res = check(sys.argv[1], sys.argv[2])
    for k, v in res.items():
        print("OK  " if v else "FAIL", k)
    sys.exit(0 if all(res.values()) else 1)
