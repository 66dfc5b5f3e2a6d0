"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet (default sf0.01), then compares row count, column
names, and an order-insensitive value comparison (columns sorted by
name, doubles rounded to 6 dp). Run before registering anything:

    python tools/check_oracles.py [--sf-dir /root/testdata/sf0.01] [keys...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64" or df[c].dtype == "float32":
            df[c] = df[c].astype("float64").round(6)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_df, duck_df) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duckdb={len(duck_df)}")
    scols, dcols = sorted(spark_df.columns), sorted(duck_df.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duckdb={dcols}")
        return problems
    s, d = normalize(spark_df), normalize(duck_df)
    sdt, ddt = [str(t) for t in s.dtypes], [str(t) for t in d.dtypes]
    if sdt != ddt:
        problems.append(f"dtypes spark={sdt} duckdb={ddt}")
    try:
        if not s.equals(d):
            neq = (s != d) & ~(s.isna() & d.isna())
            bad = neq.any(axis=1)
            problems.append(
                f"values differ in {int(bad.sum())}/{len(s)} rows; first:\n"
                f"spark:\n{s[bad].head(3)}\nduckdb:\n{d[bad].head(3)}"
            )
    except Exception as e:  # dtype mismatch etc.
        problems.append(f"compare error: {e}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--plain", action="store_true",
                    help="use a stock SparkSession with NONE of our confs "
                         "(the driver's environment; run from a cwd outside "
                         "the repo to also catch pickle-by-reference bugs)")
    args = ap.parse_args()

    from flink_kmeans_spark.plans.registry import specs

    all_specs = specs()
    keys = args.keys or sorted(all_specs)
    if args.plain:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from flink_kmeans_spark.session import get_spark

        spark = get_spark("check-oracles")
    con = duckdb_conn(args.sf_dir)

    failures = 0
    for key in keys:
        spec = all_specs.get(key)
        if spec is None:
            print(f"[SKIP] {key}: not registered")
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, args.sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {key}: spark error: {e}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"[ROWS] {key}: {len(sdf)} rows ({time.time() - t0:.2f}s, rows-only)")
            continue
        try:
            ddf = con.execute(spec.oracle).df()
        except Exception as e:
            print(f"[FAIL] {key}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(key, sdf, ddf)
        if problems:
            failures += 1
            print(f"[FAIL] {key} ({time.time() - t0:.2f}s):")
            for p in problems:
                print(f"       {p}")
        else:
            print(f"[OK]   {key}: {len(sdf)} rows ({time.time() - t0:.2f}s)")
    print(f"\n{len(keys) - failures}/{len(keys)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
