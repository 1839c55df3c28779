"""Local mirror of the driver's correctness gate.

Runs every catalog query on Spark and its oracle SQL on DuckDB over the
same parquet, then compares row count, column names, and values
(columns sorted by name, rows sorted by all columns, exact equality —
the same standard an order-insensitive value hash implies).

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb
import pandas as pd

from cyborgdb_encrypted_vector_search_spark.caching import release_all
from cyborgdb_encrypted_vector_search_spark.plans.catalog import entries
from cyborgdb_encrypted_vector_search_spark.session import get_spark
from cyborgdb_encrypted_vector_search_spark.sources.registry import TABLES


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    # normalize cells to strings the way a hash would see them
    return df.map(lambda v: repr(v))


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if len(spark_pdf) != len(duck_pdf):
        issues.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        issues.append(f"columns: spark={sc} duck={dc}")
        return issues
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        neq = (a != b).any(axis=1)
        if neq.any():
            n = int(neq.sum())
            idx = neq[neq].index[:5]
            issues.append(f"{n} mismatching rows; first diffs:")
            for i in idx:
                issues.append(f"  spark: {a.loc[i].to_dict()}")
                issues.append(f"  duck : {b.loc[i].to_dict()}")
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "PARITY_SF_DIR", "/root/testdata/sf0.01"
    )
    only = set(sys.argv[2:])
    spark = get_spark(app_name="parity", master="local[8]", shuffle_partitions=8)
    con = duck_conn(sf_dir)
    cat = entries()
    failures = 0
    for name, entry in cat.items():
        if only and name not in only:
            continue
        sdf = entry.fn(spark, sf_dir)
        spark_pdf = sdf.toPandas()
        # correctness-device persists (dedup/graph) are per-query;
        # release them so a full run doesn't accumulate caches
        release_all()
        if entry.sql is None:
            print(f"[rows-only] {name}: {len(spark_pdf)} rows")
            if len(spark_pdf) == 0:
                print(f"  WARN: zero rows")
            continue
        duck_pdf = con.execute(entry.sql).fetchdf()
        issues = compare(name, spark_pdf, duck_pdf)
        if issues:
            failures += 1
            print(f"[FAIL] {name}")
            for i in issues:
                print("   " + i)
        else:
            print(f"[ok]   {name}: {len(spark_pdf)} rows match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
