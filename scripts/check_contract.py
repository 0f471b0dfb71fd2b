"""Replicate the driver's correctness gate locally: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir, compare row count + column names + order-insensitive values.

Usage: python scripts/check_contract.py [sf_dir] [query ...]

The Spark session is local[$SPARK_GRAFT_CPUS] (default: the host's CPU
count) with a 4g driver unless SPARK_DRIVER_MEM says otherwise.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from latyas_spark.pipeline.session import build_session
    from latyas_spark.relational.registry import oracle_sql, queries

    # build_session's 32g driver default is sized for a 32-core bench
    # host; on a smaller host the driver heap grows until the OOM killer
    # ends the run.  The oracle corpora need a small fraction of 4g.
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = build_session(master=f"local[{cpus}]", app_name="contract-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")

    qs, sqls = queries(), oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {e}")
            continue
        if name not in sqls:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(sqls[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duck ] {name}: {e}")
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            failures.append((name, f"columns {list(a.columns)} vs {list(b.columns)}"))
            print(f"[FAIL-cols ] {name}: {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append((name, f"rows {len(a)} vs {len(b)}"))
            print(f"[FAIL-rows ] {name}: {len(a)} vs {len(b)}")
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            diff = a[neq].head(3), b[neq].head(3)
            failures.append((name, "value mismatch"))
            print(f"[FAIL-vals ] {name}: first diffs:\nSPARK:\n{diff[0]}\nDUCK:\n{diff[1]}")
            continue
        print(f"[ok        ] {name}: {len(a)} rows")

    print(f"\n{len(failures)} failures" + (": " + ", ".join(n for n, _ in failures) if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
