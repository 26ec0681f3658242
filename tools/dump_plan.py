"""Dump .explain("formatted") for named registry queries to files.

Usage: python tools/dump_plan.py <out_dir> <suffix> [sf_dir] name [name ...]

Writes <out_dir>/<name>_<suffix>.txt for each query (e.g.
plans/r13/dedup_weighted_jaccard_before.txt). Queries whose build phase
executes work (streaming fidelity runs, driver-looped trainers) still
produce a plan for the RETURNED frame; for those the interesting plan is
the one noted in OPTIMIZATION_r13.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix, *rest = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if rest and os.path.isdir(rest[0]):
        sf_dir, rest = rest[0], rest[1:]
    os.makedirs(out_dir, exist_ok=True)

    from prometheus_clickhouselog_exporter_spark.session import get_spark
    from prometheus_clickhouselog_exporter_spark.workloads import QUERIES

    spark = get_spark("dump-plan")
    for name in rest:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)


if __name__ == "__main__":
    main()
