"""Prometheus-style histogram aggregation as conditional aggregates.

Reference A5-A9 (metrics.go:39-69): a Prometheus histogram per label set is
cumulative bucket counts (``le`` bounds), plus ``_sum`` and ``_count``.
Rendered in Spark as one hash aggregate: ``sum(CASE WHEN v <= b THEN 1 END)``
per bound — a single shuffle on the label columns, map-side partial
aggregation for free, no UDAF. The library queries use these expressions;
the exporter itself takes only the bucket bounds below: its sink
(``streaming/sink.PrometheusSnapshotSink``) folds them into its one grouped
aggregate per micro-batch or ``--batch`` run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_columns(value: Column, buckets: Sequence[float]) -> list[Column]:
    """Cumulative ``le_<bound>`` counters + +Inf/count/sum columns."""
    cols = [
        F.sum(F.when(value <= F.lit(float(b)), 1).otherwise(0)).alias(_le_name(b))
        for b in buckets
    ]
    cols.append(F.count(value).alias("le_inf"))
    cols.append(F.count(value).alias("bucket_count"))
    cols.append(F.sum(value).alias("bucket_sum"))
    return cols


def _le_name(bound: float) -> str:
    text = f"{bound:g}".replace(".", "_").replace("+", "").replace("-", "m")
    return f"le_{text}"


def prometheus_histogram(
    df: DataFrame,
    value_col: str,
    buckets: Sequence[float],
    label_cols: Sequence[str] = (),
) -> DataFrame:
    """Aggregate ``df[value_col]`` into a Prometheus histogram per label set.

    Rows with NULL values (parse failures upstream) are excluded from
    buckets/sum/count, matching the reference's skip-on-convert-error
    behavior (they are counted separately via the error aggregates).
    """
    value = F.col(value_col).cast("double")
    filtered = df.filter(value.isNotNull())
    cols = bucket_columns(value, buckets)
    if label_cols:
        return filtered.groupBy(*label_cols).agg(*cols)
    return filtered.agg(*cols)


# Exact bucket arrays from the reference (metrics.go:42, 50, 56, 62, 68).
QUERY_TIME_BUCKETS = (1, 5, 10, 20, 30, 40, 50, 60, 120, 180, 300, 1800)
ROWS_READ_BUCKETS = (
    1e6, 1e7, 5e7, 1e8, 5e8, 1e9, 2e9, 3e9, 1e10,
)
BYTES_READ_BUCKETS = (
    5368709120, 10737418240, 53687091200, 107374182400, 536870912000, 1073741824000,
)
ROWS_PER_SEC_BUCKETS = (
    5e4, 1e5, 5e5, 1e6, 2e6, 5e6, 1e7, 5e7, 1e8, 1e9,
)
BYTES_PER_SEC_BUCKETS = (
    104857600, 524288000, 1073741824, 5368709120, 21474836480, 53687091200,
)
