"""Result comparator: the program's result against DuckDB's, compared the
way `scripts/check.py` does.

Both sides are pandas DataFrames. Columns are put in name order and rows
sorted on their stringified values, so row order does not matter. Values
are then compared as `str(v)`, with no float canonicalisation: a
DECIMAL "0.280000" does not equal a double "0.28".
"""
import glob
import os

import pandas as pd


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def compare(expected, actual):
    """Returns None when the two results agree, else what differs."""
    d, s = norm(expected), norm(actual)
    if list(d.columns) != list(s.columns):
        return f"columns: expected {list(d.columns)}, got {list(s.columns)}"
    if len(d) != len(s):
        return f"rows: expected {len(d)}, got {len(s)}"
    for c in d.columns:
        a = d[c].map(str).tolist()
        b = s[c].map(str).tolist()
        if a != b:
            i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            return f"value: column {c} row {i}: expected {a[i]}, got {b[i]}"
    return None


def read_parquet_dir(path):
    """Rows of a Spark output directory, in file and row order."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    frames = [pd.read_parquet(f) for f in files]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
