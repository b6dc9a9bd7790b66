"""Driver-mimicking correctness harness: run every queries() entry on
Spark and its oracle_sql() on DuckDB at the same sf dir, compare
row-count, schema-ish dtypes, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from super_speedy_syslog_searcher_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == "object":
            pass
        if str(df[c].dtype) in ("Int32", "Int64", "int32"):
            df[c] = df[c].astype("float64")  # null-safe numeric compare
        if str(df[c].dtype) in ("int64",):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = norm(fn(spark, sf_dir).toPandas())
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {str(ex)[:300]}")
            failed.append(name)
            continue
        if name not in os_:
            print(f"{name}: rows={len(sdf)} (no oracle — rows-only)")
            continue
        try:
            odf = norm(con.sql(os_[name]).df())
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {str(ex)[:300]}")
            failed.append(name)
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = list(sdf.columns) == list(odf.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            ok_vals = True
            for c in sdf.columns:
                a, b = sdf[c], odf[c]
                eq = ((a.isna() & b.isna()) | (a == b)).all()
                if not eq:
                    ok_vals = False
                    m = ~((a.isna() & b.isna()) | (a == b))
                    print(
                        f"  {name}.{c}: {int(m.sum())} diffs "
                        f"(spark={a[m].iloc[0]!r} oracle={b[m].iloc[0]!r})"
                    )
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            failed.append(name)
            if not ok_rows:
                print(f"  {name}: rows spark={len(sdf)} oracle={len(odf)}")
            if not ok_cols:
                print(f"  {name}: cols {list(sdf.columns)} vs {list(odf.columns)}")
        print(f"{name}: {status} ({len(sdf)} rows)")
    spark.stop()
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
