"""The reference's 9 Prometheus collectors (metrics.go:8-70) over a bounded
log: every counted line becomes one tagged row, the same rows the streaming
session fold emits (``streaming/session_state.fold_events``), so batch and
streaming share one merge (``PrometheusSnapshotSink``'s grouped aggregate).

Counters observe per *line* (not per session), exactly where the reference
calls ``.Inc()`` / ``.Observe()``:
- A1 read_lines: every input line, before any filtering (main.go:119).
- A2 query_count{type}: each non-duplicate valid initial (query.go:127).
- A3 query_errors{type,code}: each found error line (query.go:262).
- A4 chlogexporter_errors{type}: each line's ``err_type`` from
  ``correlate.annotate_events`` (duplicated_initial_query | convert |
  not_found_query). ``tail_line`` (tail read errors, main.go:114) has no
  Spark analog: the file source either reads a line or fails the task.
- A5 query_time{type}: each found+valid memory line, elapsed = that line's
  dt − session start (query.go:226-228) — observed for INSERTs too, since
  the observe precedes the FullInfo check (query.go:228 vs :231).
- A6-A9: each found+fully-converted stats line (query.go:183-186).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .correlate import annotate_events


def observed_line_counters(parsed: DataFrame):
    """A1/A2-style counters as ``observe()`` metrics riding the SAME scan:
    attach accumulator-style sums to the parse pipeline so line totals and
    per-kind counts materialize as a side effect of whatever action runs
    next — ZERO extra jobs, no second pass over the source.

    This is the closest Spark analog to the reference's ``.Inc()`` call
    sites (main.go:119, query.go:127): counters updated in the stream of
    processing, not by a separate aggregation. ``metric_snapshot`` remains
    the authoritative grouped form (it can histogram and label); observe()
    is the free-of-charge health-counter tier a 100 TB batch job wants on
    every run — the scan is the expensive part, the counters are not.

    Returns (df, observation): run ANY action on df, then read
    ``observation.get`` — a dict with ``parsed_lines`` plus one counter
    per event kind (unparseable lines never leave ``parse_log_lines``,
    so the source-line total A1 stays with the raw-side counter).
    """
    from pyspark.sql import Observation

    obs = Observation()

    def _n(kind: str):
        return F.sum(F.when(F.col("event_kind") == kind, 1).otherwise(0)).alias(kind)

    observed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("parsed_lines"),
        _n("initial"),
        _n("stats"),
        _n("memory"),
        _n("error"),
    )
    return observed, obs


def metric_snapshot(raw_lines: DataFrame, parsed: DataFrame) -> dict[str, DataFrame]:
    """The inputs of all 9 collectors. ``raw_lines`` is the unfiltered
    source (for A1); ``parsed`` is ``parse_log_lines`` output.

    Returns ``chlogexporter_read_lines`` (one row, ``n``) and ``events``:
    one row per parsed line in the session fold's output shape —
    ``row_type`` (``err`` | ``obs_initial`` | ``obs_error`` | ``obs_time``
    | ``obs_stats``), ``err_type``, ``obs_label`` (the session's statement
    type on the labelled observations), ``error_code``, ``elapsed`` and the
    four stats values. ``PrometheusSnapshotSink.load_metric_frames`` merges
    them."""
    ev = annotate_events(parsed)
    row_type = (
        F.when(F.col("err_type").isNotNull(), "err")
        .when(F.col("is_session_line"), "obs_initial")
        .when(F.col("error_valid"), "obs_error")
        .when(F.col("memory_valid"), "obs_time")
        .when(F.col("stats_valid"), "obs_stats")
    )
    labelled = F.col("is_session_line") | F.col("error_valid") | F.col("memory_valid")
    elapsed = (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("session_start_ts"))) / 1e6
    events = ev.select(
        row_type.alias("row_type"),
        "err_type",
        F.when(labelled, F.col("session_stmt")).alias("obs_label"),
        F.when(F.col("error_valid"), F.col("error_code")).alias("error_code"),
        F.when(F.col("memory_valid"), elapsed).alias("elapsed"),
        "rows_read", "bytes_read", "rps", "speed",
    )
    return {
        "chlogexporter_read_lines": raw_lines.agg(F.count(F.lit(1)).alias("n")),
        "events": events,
    }
