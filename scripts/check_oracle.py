"""Local replica of the driver's correctness gate: run each __spark_entry__
query on Spark AND its oracle SQL on DuckDB at a given sf, compare row count,
schema-ish, and order-insensitive values (columns sorted by name, rows sorted,
floats rounded)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from file_deduplicator_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    spark = get_spark(app_name="oracle_check", master="local[8]", shuffle_partitions=8)
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
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(spark_pdf)} rows")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        a, b = normalize(spark_pdf), normalize(duck_pdf)
        if len(a) != len(b):
            failures.append((name, f"row count {len(a)} vs {len(b)}"))
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            continue
        if list(a.columns) != list(b.columns):
            failures.append((name, f"columns {list(a.columns)} vs {list(b.columns)}"))
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=1e-6)
            print(f"OK    {name}: {len(a)} rows")
        except AssertionError as e:
            failures.append((name, "value mismatch"))
            print(f"FAIL  {name}: value mismatch\n{str(e)[:500]}")
            da = a.merge(b, indicator=True, how="outer").loc[lambda d: d._merge != "both"]
            print(da.head(6).to_string())
    print(f"\n{len(failures)} failures" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    raise SystemExit(main(only=only))
