"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row counts, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from pysatl_cpd_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                n = fn(spark, SF_DIR).count()
                print(f"[rows-only] {name}: {n} rows")
            except Exception as e:  # noqa: BLE001
                print(f"[rows-only] {name}: FAILED {e}")
                failures.append(name)
            continue
        try:
            spark_raw = fn(spark, SF_DIR).toPandas()
            duck_raw = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[oracle] {name}: EXEC FAILED {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        ok = True
        # driver-strictness guard: the normalizer below coerces ints to int64
        # and masks int-vs-float dtype drift that the driver's value hash does
        # NOT forgive (round-1 q1/sessionize trap: DuckDB HUGEINT → float)
        for c in set(spark_raw.columns) & set(duck_raw.columns):
            ks, kd = spark_raw[c].dtype.kind, duck_raw[c].dtype.kind
            if {ks, kd} == {"i", "f"} or {ks, kd} == {"u", "f"}:
                print(f"[oracle] {name}: DTYPE DRIFT col {c}: spark {spark_raw[c].dtype} vs duck {duck_raw[c].dtype}")
                ok = False
        spark_df = normalize(spark_raw)
        duck_df = normalize(duck_raw)
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"[oracle] {name}: COLUMN MISMATCH {list(spark_df.columns)} vs {list(duck_df.columns)}")
            ok = False
        elif len(spark_df) != len(duck_df):
            print(f"[oracle] {name}: ROWCOUNT {len(spark_df)} vs {len(duck_df)}")
            ok = False
        else:
            if not spark_df.equals(duck_df):
                neq = (spark_df != duck_df) & ~(spark_df.isna() & duck_df.isna())
                bad = neq.any(axis=1)
                nbad = int(bad.sum())
                # allow tiny float wiggle
                really_bad = 0
                for idx in spark_df.index[bad][:50]:
                    for c in spark_df.columns:
                        a, d = spark_df.at[idx, c], duck_df.at[idx, c]
                        if a != d and not (
                            isinstance(a, float)
                            and isinstance(d, float)
                            and (math.isnan(a) and math.isnan(d) or abs(a - d) < 1e-9)
                        ):
                            really_bad += 1
                            if really_bad <= 3:
                                print(f"    row {idx} col {c}: spark={a!r} duck={d!r}")
                if really_bad:
                    print(f"[oracle] {name}: VALUE MISMATCH in {nbad} rows")
                    ok = False
        if ok:
            print(f"[oracle] {name}: OK ({len(spark_df)} rows)")
        else:
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
