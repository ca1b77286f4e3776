"""Checks a run's outputs against the catalog's DuckDB oracle.

Each op with an entry in `SparkEntry.oracleSql` is compared cell for
cell with that SQL run in DuckDB over the same input, by the rules of
`tools/check_oracle.py`: columns sorted by name, equal column names,
equal row counts, dtypes equal by kind, every cell equal (floats exactly,
NaN equal to NaN, nulls equal to nulls). Ops without an oracle must
give the same row count twice.

Oracle answers depend only on the SQL and the input, so they are cached
per (input id, SQL) under the work directory.
"""
import hashlib
import math
import os
import pickle

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from gen import TABLES


def canon(df):
    return df[sorted(df.columns)]


def cmp_cell(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def _kind(dt):
    return {"i": "int", "u": "int", "f": "float", "M": "datetime"}.get(dt.kind, str(dt))


def compare(got, exp):
    """None when `got` matches `exp`, else the first difference."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        if _kind(got[c].dtype) != _kind(exp[c].dtype):
            return f"dtype mismatch col={c}: spark={got[c].dtype} duckdb={exp[c].dtype}"
    for c in got.columns:
        for r, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cmp_cell(g, e):
                return f"value mismatch col={c} row={r}: spark={g!r} duckdb={e!r}"
    return None


def expected(data_dir, data_id, sql, cache_dir):
    """The oracle answer for `sql` over the input in `data_dir`."""
    key = hashlib.sha256(f"{data_id}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    df = con.execute(sql).fetchdf()
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def _rows(path):
    return sum(pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
               for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def check(out_dir, names, oracle_sql, data_dir, data_id, cache_dir):
    """Maps each op that fails its check to the reason; ops that failed to
    run at all have no output and fail here too."""
    bad = {}
    for n in names:
        got_dir = os.path.join(out_dir, "check", n)
        if not os.path.isdir(got_dir):
            bad[n] = "no output"
            continue
        try:
            if n in oracle_sql:
                diff = compare(pd.read_parquet(got_dir),
                               expected(data_dir, data_id, oracle_sql[n], cache_dir))
            else:
                rep = os.path.join(out_dir, "repeat", n)
                a, b = _rows(got_dir), _rows(rep) if os.path.isdir(rep) else None
                diff = None if a == b else f"row count {a} then {b}"
        except Exception as e:  # an oracle or read error is a failed check
            diff = f"check error: {e}"
        if diff:
            bad[n] = diff
    return bad
