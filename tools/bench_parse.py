"""Log-parse throughput micro-bench: lines/s through the full parse stack
(coarse gate → per-shape anchor gates → single regex rewrite → typed casts).

This is the head-to-head against the reference's core loop: a
single-threaded Go process doing up to 3 substring scans + up to 4 regex
matches per line (query.go:49-75). Usage:

    python tools/bench_parse.py [n_copies]   # default 40000 ≈ 2.1M lines

Prints one JSON line {"metric": "parse_lines_per_sec", ...}. The input is
the golden fixture corpus replicated in memory (cached), so the number
isolates parse CPU, not I/O.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000

    from prometheus_clickhouselog_exporter_spark.session import DEFAULT_CPUS as cpus, get_spark
    from prometheus_clickhouselog_exporter_spark.operators.parsing import parse_log_lines
    from prometheus_clickhouselog_exporter_spark.sources.fixtures import standard_corpus

    spark = get_spark("bench-parse", cores=cpus, shuffle_partitions=cpus)
    corpus = spark.createDataFrame(
        [(line,) for line in standard_corpus().lines], "value string"
    )
    big = (
        corpus.crossJoin(spark.range(copies).select(F.lit(1).alias("one")))
        .select("value")
        .repartition(cpus * 2)
        .cache()
    )
    n = big.count()

    parsed = parse_log_lines(big)
    times = []
    for _ in range(4):
        t0 = time.time()
        parsed.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    sec = statistics.median(times[1:])
    print(
        json.dumps(
            {
                "metric": "parse_lines_per_sec",
                "value": round(n / sec),
                "unit": "lines/s",
                "lines": n,
                "sec": round(sec, 3),
                "cores": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
