"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir;
compare row count, sorted-column value multiset (stringified with
rounding), and report per-query PASS/FAIL.
"""

from __future__ import annotations

import os
import sys
import datetime as dt

import duckdb
import pandas as pd

# validate the tree this script belongs to, wherever it is checked out
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries, oracle_sql  # noqa: E402
from logstash_filter_aggregate_spark import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.notna().any() else None, (bytes, bytearray)):
            df[c] = s.map(lambda b: b.hex() if isinstance(b, (bytes, bytearray)) else None)
        elif "float" in str(s.dtype):
            df[c] = s.round(6)
        elif "datetime" in str(s.dtype):
            df[c] = s.astype("datetime64[us]")
    rows = [tuple(str(v) for v in r) for r in df.itertuples(index=False, name=None)]
    return sorted(rows)


def main(sf_dir: str, only: list[str] | None = None) -> int:
    spark = get_spark(
        app_name="oracle_check",
        master="local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "8"),
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, os_ = queries(), oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = dt.datetime.now()
        try:
            spark_pd = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:34s} SPARK-ERROR {e}")
            failed.append(name)
            continue
        if name not in os_:
            print(f"{name:34s} rows-only   {len(spark_pd):6d} rows  ({(dt.datetime.now()-t0).total_seconds():.1f}s)")
            continue
        try:
            duck_pd = con.execute(os_[name]).df()
        except Exception as e:
            print(f"{name:34s} DUCK-ERROR  {str(e)[:100]}")
            failed.append(name)
            continue
        a, b = canon(spark_pd), canon(duck_pd)
        ok = a == b
        status = "OK" if ok else "MISMATCH"
        print(f"{name:34s} {status:10s} {len(a):6d} vs {len(b):6d} rows ({(dt.datetime.now()-t0).total_seconds():.1f}s)")
        if not ok:
            failed.append(name)
            sa, sb = set(a), set(b)
            for r in list(sa - sb)[:3]:
                print("   spark-only:", r)
            for r in list(sb - sa)[:3]:
                print("   duck-only: ", r)
    print("FAILED:", failed if failed else "none")
    return 1 if failed else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(main(sf, only))
