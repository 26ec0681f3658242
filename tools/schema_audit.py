"""Audit every declared query output for non-scalar top-level columns.

The driver's pandas canonicalizer sorts the output frame by every column;
an array/map/struct-typed final column raises ``TypeError: unhashable
type`` there and makes the query unverifiable (r13 verdict, item 1:
clickhouse_uniq_upto_topk). This sweep builds each registry DataFrame
(schema only — no action beyond what query construction itself runs) and
reports any top-level ArrayType/MapType/StructType column. Exits 1 when
a column is non-scalar or when any query fails to build.

Usage: python tools/schema_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import ArrayType, MapType, StructType


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from prometheus_clickhouselog_exporter_spark.session import get_spark
    from prometheus_clickhouselog_exporter_spark.workloads import QUERIES

    spark = get_spark("schema-audit")
    bad: list[tuple[str, str, str]] = []
    errs: list[tuple[str, str]] = []
    for i, (name, fn) in enumerate(QUERIES.items()):
        try:
            schema = fn(spark, sf_dir).schema
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            errs.append((name, repr(e)[:200]))
            continue
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, field.name, field.dataType.simpleString()))
        if (i + 1) % 50 == 0:
            print(f"# {i + 1}/{len(QUERIES)} checked", flush=True)

    print(f"\nchecked {len(QUERIES)} queries, {len(errs)} build errors")
    for name, err in errs:
        print(f"ERROR {name}: {err}")
    if bad:
        print(f"{len(bad)} non-scalar final columns:")
        for name, col, typ in bad:
            print(f"NONSCALAR {name}.{col}: {typ}")
    else:
        print("no non-scalar final columns")
    # A query that fails to build is unaudited: fail as loudly as a
    # non-scalar column does.
    if bad or errs:
        sys.exit(1)


if __name__ == "__main__":
    main()
