"""DuckDB oracle compare for the benchmark's outputs. Frames are
canonicalised and compared by `scripts/check.py`'s own `canon`: columns
sorted by name, cells stringified, rows sorted by their tuple."""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from check import TABLES, canon  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}/*.parquet')")
    return con


def compare(got, exp):
    """None when the frames agree, else a one-line reason, with
    `scripts/check.py`'s column, row-count and cell tests."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rowcount {len(got)} != {len(exp)}"
    neq = (got != exp).any(axis=1)
    if neq.any():
        i = int(neq.idxmax())
        return (f"{int(neq.sum())}/{len(got)} rows differ; first: "
                f"got={tuple(got.iloc[i])} exp={tuple(exp.iloc[i])}")
    return None


def check(con, result_dir, sql):
    """Compare the parquet result in `result_dir` with `sql` in DuckDB."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result written"
    got = pd.read_parquet(files[0] if len(files) == 1 else result_dir)
    return compare(got, con.sql(sql).df())
