"""DuckDB oracle check of the batch sweeps' results.

Each query's result (the parquet the timed write produced) must equal
its oracle SQL run by DuckDB over the same input tables, under the
rules of the project's parity check: columns compared by sorted name,
same row count, same pandas dtypes, rows sorted by every column, exact
value equality (NULLs equal each other).
"""
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(con, sql):
    df = con.execute(sql).df()
    return df[sorted(df.columns)]


def _compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = got.sort_values(by=list(got.columns), ignore_index=True)
    e = exp.sort_values(by=list(exp.columns), ignore_index=True)
    for c in g.columns:
        gc, ec = g[c], e[c]
        if str(gc.dtype) != str(ec.dtype):
            return f"dtype {c}: {gc.dtype} != {ec.dtype}"
        if gc.dtype == object:
            neq = gc.fillna("\0") != ec.fillna("\0")
        else:
            neq = ~((gc == ec) | (gc.isna() & ec.isna()))
        if neq.any():
            i = neq.idxmax()
            return (f"value {c}[{i}]: got={gc[i]!r} exp={ec[i]!r} "
                    f"({int(neq.sum())} rows differ)")
    return None


def check(data_dir, out_dir, names, tmp_dir):
    """{query: error or None} for every name; a query without an
    oracle, or whose result is missing, is an error."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    res = {}
    for name in names:
        if name not in oracle:
            res[name] = "no oracle SQL registered"
            continue
        path = os.path.join(out_dir, "results", name)
        if not os.path.isdir(path):
            res[name] = "no result written"
            continue
        try:
            got = _canon(con, f"SELECT * FROM '{path}/*.parquet'")
            exp = _canon(con, oracle[name])
            res[name] = _compare(got, exp)
        except Exception as ex:  # an unreadable result or oracle error
            res[name] = f"{type(ex).__name__}: {ex}"[:300]
    con.close()
    return res
