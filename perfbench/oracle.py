"""Exact output check against DuckDB.

Runs each key's oracle SQL (`SparkEntry.oracleSql`, written by the
harness as oracle_sql.json beside the outputs) on the generated input
tables, and compares it with the engine's output parquet for that key:
columns sorted by name, rows sorted by all columns, values compared
exactly -- the canonical form of the repository's oracle gate.

Each top-level common table expression is evaluated once
(`AS MATERIALIZED`); DuckDB otherwise inlines a CTE at every reference,
which makes the similarity keys' oracles take minutes. The keys are
checked in a few worker processes.
"""
import concurrent.futures
import glob
import json
import math
import os
import re

import duckdb

WORKERS = 3


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def materialized(sql):
    """The same query with every plain top-level CTE evaluated once."""
    return re.sub(r"((?:\bWITH(?:\s+RECURSIVE)?|,)\s+)(\w+) AS \(",
                  r"\1\2 AS MATERIALIZED (", sql)


def check(data_dir, out_dir, name, sql):
    """None when `name`'s output equals its oracle, else why not."""
    try:
        con = duckdb.connect()
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            return f"{name}: no output"
        sdf = con.sql(f"SELECT * FROM read_parquet({files!r})")
        scols, srows = norm(sdf.fetchall(), list(sdf.columns))
        odf = con.sql(materialized(sql))
        ocols, orows = norm(odf.fetchall(), list(odf.columns))
        if scols != ocols:
            return f"{name}: columns {scols}, oracle {ocols}"
        if len(srows) != len(orows):
            return f"{name}: {len(srows)} rows, oracle {len(orows)}"
        diff = [(x, y) for x, y in zip(srows, orows) if x != y]
        if diff:
            return (f"{name}: {len(diff)}/{len(srows)} rows differ from the oracle, "
                    f"first {diff[0][0]} vs {diff[0][1]}")
        return None
    except Exception as e:  # a failing oracle query is a failed check
        return f"{name}: {type(e).__name__}: {e}"


def compare(data_dir, out_dir):
    """Returns one message per key whose output differs from its oracle."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    with concurrent.futures.ProcessPoolExecutor(WORKERS) as pool:
        results = pool.map(check, *zip(*[(data_dir, out_dir, k, q)
                                          for k, q in sorted(oracle.items())]))
        return [r for r in results if r]
