"""Local replica of the driver's correctness gate: run every catalog
query on Spark and its oracle on DuckDB over the same parquet tables,
compare row count, column names/kinds and sorted cell values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from python_dtl_spark.catalog import QUERIES
from python_dtl_spark.operators.dedup import release_all_cached
from python_dtl_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def kind(dtype) -> str:
    k = dtype.kind
    return {"i": "int", "u": "int", "f": "float", "M": "ts", "O": "obj", "b": "bool"}.get(
        k, k
    )


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count {len(spark_df)} vs {len(duck_df)}")
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns {s_cols} vs {d_cols}")
        return problems
    s = normalize(spark_df)
    d = normalize(duck_df)
    for c in s.columns:
        if kind(s[c].dtype) != kind(d[c].dtype):
            problems.append(f"col {c}: dtype kind {s[c].dtype} vs {d[c].dtype}")
    if problems:
        return problems
    if len(s) != len(d):
        return problems
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f":
            bad = ~(
                (sv.isna() & dv.isna())
                | (sv == dv)
            )
            if bad.any():
                i = bad.idxmax()
                problems.append(
                    f"col {c}: value mismatch at row {i}: {sv[i]!r} vs {dv[i]!r} "
                    f"(diff {abs(sv[i] - dv[i]) if not math.isnan(sv[i]) else 'nan'})"
                )
        else:
            eq = (sv.isna() & dv.isna()) | (sv.astype(object) == dv.astype(object))
            if not eq.all():
                i = (~eq).idxmax()
                problems.append(f"col {c}: value mismatch at row {i}: {sv[i]!r} vs {dv[i]!r}")
    return problems


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    n_pass = n_fail = 0
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # free operator-persisted intermediates even when the query
            # fails — a leaked cache would pressure every later query
            # in the catalog loop
            release_all_cached(spark)
        elapsed = time.perf_counter() - t0
        try:
            ddf = con.execute(q.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL {name} ({len(sdf)} vs {len(ddf)} rows): " + "; ".join(problems[:4]))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows ({elapsed:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
