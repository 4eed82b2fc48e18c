"""Checks query results against their DuckDB oracle SQL on the same fixture.

The comparison follows the oracle suite's rules: the same column set, the
same dtypes, the same row count and exactly equal values once both sides'
rows are sorted by every column (NaN equals NaN).
"""
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(got, want):
    """None when the two frames match, else what differs."""
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if a.shape != b.shape:
        return f"{a.shape[0]} rows != oracle {b.shape[0]}"
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            return f"column {c} dtype {a[c].dtype} != oracle {b[c].dtype}"
        av, bv = a[c], b[c]
        if av.dtype.kind == "f":
            ok = np.array_equal(av.values, bv.values, equal_nan=True)
        else:
            ok = av.astype(object).equals(bv.astype(object))
        if not ok:
            return f"column {c} values differ from the oracle"
    return None


def check(fixture, out, record):
    """Checks the first result of every query of the run. Returns
    {query: error} for the failures."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    failures = {}
    for name in sorted({o["name"] for o in record["ops"] if o["digest"] and o["pass"] == 0}):
        dump = os.path.join(out, "dumps", name)
        sql = record["oracle_sql"].get(name)
        if sql is None:
            failures[name] = "no oracle SQL"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{dump}/*.parquet'").df()
            err = compare(got, con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"oracle compare error: {e}"
        if err:
            failures[name] = err
    return failures
