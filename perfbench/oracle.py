"""Compare graft's outputs with their DuckDB oracle queries.

Each output directory `<out>/<name>/` holds the parquet graft wrote for
registry entry `<name>`; `<out>/oracle_sql.json` maps the entry to its
`SparkEntry.oracleSql` text. Both sides are normalised the same way:
columns sorted by name, rows sorted by every column, and the value
classes must agree (an int column never equals a float one).
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(dtype):
    k = dtype.kind
    return {"i": "int", "u": "int", "f": f"float{dtype.itemsize * 8}",
            "b": "bool", "M": "datetime"}.get(k, "object")


def _diff(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    for c in got.columns:
        if _kind(got[c].dtype) != _kind(exp[c].dtype):
            return f"column {c} type {got[c].dtype} vs {exp[c].dtype}"
        a, b = got[c].values, exp[c].values
        eq = (a == b) | (pd.isna(a) & pd.isna(b))
        if not eq.all():
            i = int((~eq).argmax())
            return f"column {c} row {i}: graft={a[i]!r} duckdb={b[i]!r}"
    return None


def compare(data_dir, out_dir):
    """{"oracle.<name>": "ok" | "MISMATCH: ..."} for every entry in out_dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(os.listdir(data_dir)):
        if not p.endswith(".parquet"):
            continue
        src = os.path.join(data_dir, p)
        if os.path.isdir(src):
            src = os.path.join(src, "*.parquet")
        con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM read_parquet('{src}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        got = _norm(pd.concat([pd.read_parquet(f) for f in files]))
        exp = _norm(con.execute(sql).df())
        d = _diff(got, exp)
        verdicts[f"oracle.{name}"] = "ok" if d is None else f"MISMATCH: {d}"
    return verdicts
