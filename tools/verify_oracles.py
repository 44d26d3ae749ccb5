"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at a given sf dir;
compare row counts + order-insensitive values (columns sorted by name).

Usage: python tools/verify_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np

# the checkout this script belongs to, so a copy of the repo checks itself
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# exported too, so Spark's Python workers and child processes import it
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from koncorde_spark.spark import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            # np.float32 is not a Python float — normalize ALL floating
            # values (float/np.float32/np.float64) the same way, else a
            # FloatType Spark column compares unrounded vs a rounded
            # float64 oracle and NaN never maps to None
            if isinstance(v, float) or (hasattr(v, "dtype") and np.issubdtype(type(v), np.floating)):
                v = float(v)
                if math.isnan(v):
                    row.append(None)
                else:
                    row.append(round(v, 6))
            elif hasattr(v, "item"):
                row.append(v.item())
            else:
                row.append(v)
        rows.append(tuple(row))
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            failures.append(name)
            continue
        g, e = normalize(got), normalize(exp)
        if len(g) != len(e):
            print(f"FAIL  {name}: rowcount spark={len(g)} oracle={len(e)}")
            failures.append(name)
        elif g != e:
            diff = [i for i, (a, b) in enumerate(zip(g, e)) if a != b][:3]
            print(f"FAIL  {name}: {len(g)} rows, value mismatch at {diff}")
            for i in diff[:2]:
                print(f"      spark : {g[i]}")
                print(f"      oracle: {e[i]}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(g)} rows match")
    print("FAILURES:", failures or "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
