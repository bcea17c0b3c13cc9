"""The batch_mix gate: each query's output against its DuckDB oracle SQL
(`SparkEntry.oracleSql`) over the same generated tables. Canonical form:
columns sorted by name, floats rounded to 6 places (NaN as a string), lists
as tuples, rows sorted by their string form."""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
            return tuple(norm(x) for x in v)
        return v

    out = df.map(norm)
    return out.sort_values(by=list(out.columns), ignore_index=True,
                           key=lambda s: s.astype(str))


def compare(tables_dir, out_dir, names):
    """Returns {query name: None if it matches, else why not}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t + '.parquet')}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdict = {}
    for name in names:
        if name not in oracle:
            verdict[name] = "no oracle SQL"
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(out_dir, name)))
            want = canon(con.execute(oracle[name]).fetchdf())
        except Exception as e:  # an unreadable output or a failing oracle
            verdict[name] = f"{type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(want.columns):
            verdict[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            verdict[name] = f"rows {len(got)} != {len(want)}"
        elif not got.astype(str).equals(want.astype(str)):
            diff = (got.astype(str) != want.astype(str)).any(axis=1)
            verdict[name] = f"{int(diff.sum())} rows differ"
        else:
            verdict[name] = None
    con.close()
    return verdict
