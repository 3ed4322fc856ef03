"""Checks a run's answers against the DuckDB oracle SQL of each op.

The compare rule is the repository's parity rule (`tools/parity.py`):
columns sorted by name, cells compared as text with floats at 9
significant digits, rows in order.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_rows(df):
    df = df[sorted(df.columns)]
    return [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]


def connect(data_dir, extra=None):
    """DuckDB over the corpus; `extra` maps a table to more parquet files
    that are appended to it (the ingested batches)."""
    con = duckdb.connect()
    for t in TABLES:
        files = [os.path.join(data_dir, f"{t}.parquet")] + list((extra or {}).get(t, []))
        union = " UNION ALL ".join(f"SELECT * FROM read_parquet('{f}')" for f in files)
        con.execute(f"CREATE VIEW {t} AS {union}")
    return con


def compare(con, sql, dump_dir):
    """None when the dumped answer equals the oracle's, else a reason."""
    files = glob.glob(os.path.join(dump_dir, "*.parquet"))
    if not files:
        return "no answer dumped"
    got = pq.read_table(files[0]).to_pandas()
    try:
        want = con.execute(sql).df()
    except Exception as e:  # the oracle itself must run
        return f"oracle error: {e}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = frame_rows(got), frame_rows(want)
    if g == w:
        return None
    if len(g) != len(w):
        return f"rows {len(g)} != oracle {len(w)}"
    i = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
    return f"row {i}: {g[i]} != oracle {w[i]}"


def check_dir(con, oracle_json, dump_root, names):
    """Compare every op in `names` that has oracle SQL; returns
    {name: None | reason}. Ops without oracle SQL are left out."""
    oracle = json.load(open(oracle_json))
    return {n: compare(con, oracle[n], os.path.join(dump_root, n))
            for n in names if n in oracle}
