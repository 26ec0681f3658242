"""Local mirror of the driver's correctness harness.

Runs every ``queries()`` entry against its ``oracle_sql()`` via DuckDB on
the same parquet tables, compares row count + sorted column names + order-
insensitive values, and reports exact vs approx (1e-9 rel) float agreement —
exact is what the driver's value hash needs, approx flags queries that are
one reduction-order away from flaking.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), key=lambda s: s.astype(str), kind="mergesort")
    return df.reset_index(drop=True)


def cells_equal(a, b) -> tuple[bool, bool]:
    """(exact, approx) equality for a pair of cells."""
    if a is None and b is None:
        return True, True
    try:
        if pd.isna(a) and pd.isna(b):
            return True, True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return (a == b, a == b)
        exact = af == bf or (math.isnan(af) and math.isnan(bf))
        approx = exact or math.isclose(af, bf, rel_tol=1e-9, abs_tol=1e-9)
        return exact, approx
    import numpy as np

    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray) or isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a, b = list(a), list(b)
        if len(a) != len(b):
            return False, False
        sub = [cells_equal(x, y) for x, y in zip(a, b)]
        return all(e for e, _ in sub), all(p for _, p in sub)
    eq = a == b
    return eq, eq


def dtype_mismatches(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[tuple]:
    """Columns whose numpy dtype *kind* diverges in a way the driver's value
    hash rejects: int/uint vs float, and signed vs unsigned int.  Int width
    (int32 vs int64) and timestamp unit (ns vs us) are tolerated — verified
    against CORRECTNESS_r01 (19 width/unit-skewed queries all hash-matched,
    all 6 int-vs-float ones failed)."""
    bad = []
    for col in spark_df.columns:
        ks, kd = spark_df[col].dtype.kind, duck_df[col].dtype.kind
        if ks == kd:
            continue
        if {ks, kd} <= {"i", "u", "b"} and "b" not in {ks, kd}:
            bad.append((col, str(spark_df[col].dtype), str(duck_df[col].dtype)))  # i vs u
        elif "f" in {ks, kd} and {ks, kd} & {"i", "u"}:
            bad.append((col, str(spark_df[col].dtype), str(duck_df[col].dtype)))
        elif {ks, kd} == {"M", "O"} or {ks, kd} == {"O", "M"}:
            continue  # object-boxed timestamps — driver tolerates
    return bad


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> dict:
    res = {"rows": (len(spark_df), len(duck_df)), "rows_match": len(spark_df) == len(duck_df)}
    cols_s, cols_d = sorted(spark_df.columns), sorted(duck_df.columns)
    res["schema_match"] = cols_s == cols_d
    if not res["schema_match"]:
        res["schema"] = (cols_s, cols_d)
        return res
    bad_dtypes = dtype_mismatches(spark_df, duck_df)
    if bad_dtypes:
        res["dtype_mismatch"] = bad_dtypes
    if not res["rows_match"]:
        return res
    a, b = canon(spark_df), canon(duck_df)
    exact = approx = True
    first_diff = None
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            e, p = cells_equal(x, y)
            exact &= e
            approx &= p
            if not p and first_diff is None:
                first_diff = (col, i, x, y)
    res["exact_match"] = exact
    res["approx_match"] = approx
    if first_diff:
        res["first_diff"] = first_diff
    return res


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {unknown}")
        return 1

    from prometheus_clickhouselog_exporter_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time() - t0:.1f}s]")
            if len(sdf) == 0:
                failures.append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        res = compare(sdf, ddf)
        ok = res.get("exact_match", False) and not res.get("dtype_mismatch")
        status = "OK   " if ok else (
            "DTYPE" if res.get("dtype_mismatch") and res.get("exact_match", False)
            else ("APPROX" if res.get("approx_match") else "FAIL ")
        )
        print(f"{status} {name}: {res} [{time.time() - t0:.1f}s]")
        if not ok:
            failures.append(name)
    n_checked = len([n for n in qs if not only or n in only])
    print(f"\n{n_checked - len(failures)}/{n_checked} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
