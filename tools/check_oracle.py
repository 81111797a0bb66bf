"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir and compares
against oracle_sql() via DuckDB (views pre-registered like the driver does):
row count, column names/types, and an order-insensitive value comparison.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    errs = []
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        errs.append(f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return errs
    # dtype parity (the round-6 rule): the driver's value hasher is
    # dtype-sensitive, so an int64-vs-float64 drift (e.g. DuckDB's
    # HUGEINT sum() materializing as float64) fails THERE even when the
    # value compare below is green. Normalize only int-width differences
    # (int32 vs int64 both hash as integers driver-side is NOT guaranteed
    # — flag any kind mismatch, allow same-kind width drift for objects).
    for c in sorted(spark_pdf.columns):
        sk, dk = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        if sk != dk and not (len(spark_pdf) == 0 or len(duck_pdf) == 0):
            errs.append(
                f"dtype col {c}: spark {spark_pdf[c].dtype} vs "
                f"duck {duck_pdf[c].dtype} (driver hash would diverge)"
            )
    if errs:
        return errs
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                bad = ~(
                    (av.isna() & bv.isna())
                    | (av.astype(float) - bv.astype(float)).abs().le(0.0)
                )
            else:
                bad = av.astype(str) != bv.astype(str)
            n_bad = int(bad.sum())
            if n_bad:
                i = bad.idxmax()
                errs.append(
                    f"col {c}: {n_bad} mismatches, first at row {i}: "
                    f"spark={a[c][i]!r} duck={b[c][i]!r}"
                )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from osm_search_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create or replace view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    import time

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    attempted = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        attempted += 1
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"[FAIL] {name}: spark error: {ex}")
            failed.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(spark_pdf)} rows")
            continue
        t0 = time.time()
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"[FAIL] {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        t_duck = time.time() - t0
        errs = compare(name, spark_pdf, duck_pdf)
        if errs:
            print(f"[FAIL] {name}: " + "; ".join(errs))
            failed.append(name)
        else:
            print(
                f"[ok] {name}: {len(spark_pdf)} rows match "
                f"(spark {t_spark:.1f}s, duck {t_duck:.1f}s)"
            )
    print(f"\n{attempted - len(failed)}/{attempted} queries match"
          + ("" if attempted == len(queries)
             else f" (subset of {len(queries)} registered)"))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
