"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir AND its
oracle_sql() in DuckDB on the same parquet, then compares:
row count, column-name set, and order-insensitive value equality
(columns sorted by name, rows sorted, values normalized).

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# import the crawler_spark of the repository this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: str(v))
        elif str(s.dtype).startswith("float"):
            df[c] = s.round(6)
        elif str(s.dtype).startswith(("int", "uint", "Int")):
            df[c] = s.astype("int64")
        elif str(s.dtype) == "bool":
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from crawler_spark.session import get_spark

    spark = get_spark("check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(got)} rows, {time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            failures.append(name)
            continue
        if not g.equals(w):
            neq = (g != w).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first diffs:")
            print(pd.concat([g[neq].head(3), w[neq].head(3)], keys=["spark", "duck"]))
            failures.append(name)
            continue
        print(f"PASS {name}: {len(g)} rows, {time.time()-t0:.1f}s")

    n_run = len(only & qs.keys()) if only else len(qs)
    print(f"\n{n_run - len(failures)}/{n_run} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
