"""Local twin of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given sf dir, compare
row count + column names + order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd

import __spark_entry__ as E
from pregel_golang_implementation_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="contract-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    # bounded spill on tmpfs — an accidental CTE-inlining blow-up must
    # fail fast, not fill the root disk (observed: 70 GB in ./.tmp)
    if os.path.isdir("/dev/shm"):
        con.sql("SET temp_directory='/dev/shm/duckdb_contract_tmp'")
        con.sql("SET max_temp_directory_size='20GiB'")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oq = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oq:
            print(f"PASS(rows-only) {name}: {len(got)} rows")
            continue
        try:
            want = con.sql(oq[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            failures.append(name)
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            failures.append(name)
            continue
        # the driver's value hash is dtype-sensitive (int 1 != float 1.0 in
        # its exact hash) — compare KINDS here too, or an oracle column that
        # lands as float64 while Spark emits int64 passes locally and goes
        # red at the driver (this is exactly how r3's sessionize slipped:
        # DuckDB windowed SUM → HUGEINT → pandas float64). Int-width
        # differences (int32 vs int64) hash identically, so kind suffices.
        kinds_g = [g[c].dtype.kind for c in g.columns]
        kinds_w = [w[c].dtype.kind for c in w.columns]
        if kinds_g != kinds_w:
            print(f"FAIL {name}: dtype kinds {kinds_g} vs {kinds_w} "
                  f"(cols {list(g.columns)})")
            failures.append(name)
            continue
        try:
            pd.testing.assert_frame_equal(
                g, w, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
            )
            print(f"PASS {name}: {len(g)} rows")
        except AssertionError as ex:
            print(f"FAIL {name}: values differ: {str(ex)[:400]}")
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
