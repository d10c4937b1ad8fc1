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


def connect() -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table of ``SF_DIR``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def compare(spark_raw: pd.DataFrame, duck_raw: pd.DataFrame) -> list[str]:
    """What differs between a Spark result and its DuckDB oracle's, as
    printable lines; empty when they agree."""
    problems = []
    # strictness guard: the normalizer below coerces ints to int64 and
    # masks int-vs-float dtype drift that an exact value hash does NOT
    # forgive (a DuckDB HUGEINT sum arrives as float)
    for c in set(spark_raw.columns) & set(duck_raw.columns):
        ks, kd = spark_raw[c].dtype.kind, duck_raw[c].dtype.kind
        if {ks, kd} == {"i", "f"} or {ks, kd} == {"u", "f"}:
            problems.append(f"DTYPE DRIFT col {c}: spark {spark_raw[c].dtype} vs duck {duck_raw[c].dtype}")
    spark_df = normalize(spark_raw)
    duck_df = normalize(duck_raw)
    if list(spark_df.columns) != list(duck_df.columns):
        problems.append(f"COLUMN MISMATCH {list(spark_df.columns)} vs {list(duck_df.columns)}")
    elif len(spark_df) != len(duck_df):
        problems.append(f"ROWCOUNT {len(spark_df)} vs {len(duck_df)}")
    elif not spark_df.equals(duck_df):
        neq = (spark_df != duck_df) & ~(spark_df.isna() & duck_df.isna())
        bad = neq.any(axis=1)
        # allow tiny float wiggle
        really_bad = []
        for idx in spark_df.index[bad][:50]:
            for c in spark_df.columns:
                a, d = spark_df.at[idx, c], duck_df.at[idx, c]
                if a != d and not (
                    isinstance(a, float)
                    and isinstance(d, float)
                    and (math.isnan(a) and math.isnan(d) or abs(a - d) < 1e-9)
                ):
                    really_bad.append(f"    row {idx} col {c}: spark={a!r} duck={d!r}")
        if really_bad:
            problems += really_bad[:3]
            problems.append(f"VALUE MISMATCH in {int(bad.sum())} rows")
    return problems


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark()
    con = connect()

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
        problems = compare(spark_raw, duck_raw)
        for line in problems:
            print(line if line.startswith(" ") else f"[oracle] {name}: {line}")
        if problems:
            failures.append(name)
        else:
            print(f"[oracle] {name}: OK ({len(spark_raw)} rows)")
    print("\nFAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
