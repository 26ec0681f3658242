"""Stream-stream joins and in-stream dedup (SURVEY §2.2 rows the reference
has no analog for: its correlation is a single-process map; these are the
distributed streaming equivalents Spark provides).

``join_initial_to_close`` is the stream-stream rendering of the reference's
ST3 correlation (initial line ⋈ its MemoryTracker close, query.go:207-235):
both sides are unbounded, so Spark buffers each in watermarked state and the
time-bound condition lets it expire rows once no future match is possible.
Contrast with ``streaming/session_state.py`` (``keyed_fold``),
which implements the full ST1-ST5 fold; the join form is what you reach for
when only two event kinds matter and you want the engine to manage state
entirely declaratively.

``dedup_initial_stream`` is the streaming form of ST1's duplicate-initial
guard (query.go:91-95): keep the first initial line per query id, drop
repeats, with state bounded by the watermark instead of the reference's
unbounded (leaking) map.

100 TB: both operators shuffle by the join/dedup key; state is per-key rows
within the watermark horizon. The watermark is the state bound — size it to
the maximum query lifetime, not the stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_initial_to_close(
    parsed: DataFrame,
    watermark: str = "10 minutes",
    max_duration: str = "10 minutes",
) -> DataFrame:
    """Inner stream-stream join: each initial line to its memory-line close
    within ``max_duration``, producing (id, stmt fields, elapsed).

    The time-bound predicate (close.ts between open.ts and open.ts +
    max_duration) is what makes unbounded-join state expirable: once the
    close-side watermark passes open.ts + max_duration, the buffered open
    row can never match again and is evicted.

    Works on batch DataFrames too (watermarks are ignored), which is how
    the oracle checks it.
    """
    k = F.col("event_kind")
    opens = parsed.filter(k == "initial").select(
        F.col("id").alias("open_id"),
        F.col("ts").alias("open_ts"),
        F.col("host"), F.col("port"), F.col("pid"), F.col("query"),
    )
    closes = parsed.filter(k == "memory").select(
        F.col("id").alias("close_id"),
        F.col("ts").alias("close_ts"),
        F.col("memory_raw"),
    )
    if parsed.isStreaming:
        opens = opens.withWatermark("open_ts", watermark)
        closes = closes.withWatermark("close_ts", watermark)
    cond = (
        (F.col("open_id") == F.col("close_id"))
        & (F.col("close_ts") >= F.col("open_ts"))
        & (F.col("close_ts") <= F.col("open_ts") + F.expr(f"INTERVAL {max_duration}"))
    )
    joined = opens.join(closes, cond)
    return joined.select(
        F.col("open_id").alias("id"),
        "host", "port", "pid", "query",
        F.col("open_ts").alias("start_time"),
        F.col("close_ts").alias("end_time"),
        ((F.unix_micros(F.col("close_ts")) - F.unix_micros(F.col("open_ts"))) / 1e6).alias("elapsed"),
    )


def join_initial_to_close_outer(
    parsed: DataFrame,
    watermark: str = "10 minutes",
    max_duration: str = "10 minutes",
    how: str = "leftOuter",
) -> DataFrame:
    """LEFT OUTER stream-stream join: like ``join_initial_to_close`` but
    opens that never close inside ``max_duration`` are still emitted —
    with NULL close fields and ``matched = false`` — once the watermark
    proves no close can arrive. This is the declarative rendering of the
    reference's session-timeout eviction (ST5, the state-leak fix): the
    engine, not user code, decides when an open is an orphan, and the
    orphan itself becomes a row instead of a counter.

    Outer-join mechanics worth knowing: NULL-side rows can only be
    produced AFTER the watermark passes ``open_ts + max_duration`` —
    so emission is delayed by (at least) one micro-batch beyond that
    point, and both sides MUST carry watermarks. State size and
    semantics are otherwise identical to the inner form.
    """
    k = F.col("event_kind")
    opens = parsed.filter(k == "initial").select(
        F.col("id").alias("open_id"),
        F.col("ts").alias("open_ts"),
        F.col("host"), F.col("port"), F.col("pid"), F.col("query"),
    )
    closes = parsed.filter(k == "memory").select(
        F.col("id").alias("close_id"),
        F.col("ts").alias("close_ts"),
        F.col("memory_raw"),
    )
    if parsed.isStreaming:
        opens = opens.withWatermark("open_ts", watermark)
        closes = closes.withWatermark("close_ts", watermark)
    cond = (
        (F.col("open_id") == F.col("close_id"))
        & (F.col("close_ts") >= F.col("open_ts"))
        & (F.col("close_ts") <= F.col("open_ts") + F.expr(f"INTERVAL {max_duration}"))
    )
    joined = opens.join(closes, cond, how)
    # id coalesces both sides: for leftOuter open_id is always present;
    # fullOuter additionally emits close-only rows (a close whose open
    # fell outside the time bound) identified by close_id.
    return joined.select(
        F.coalesce(F.col("open_id"), F.col("close_id")).alias("id"),
        "host", "port", "pid", "query",
        F.col("open_ts").alias("start_time"),
        F.col("close_ts").alias("end_time"),
        ((F.unix_micros(F.col("close_ts")) - F.unix_micros(F.col("open_ts"))) / 1e6).alias("elapsed"),
        F.col("close_ts").isNotNull().alias("matched"),
        F.when(F.col("open_ts").isNotNull() & F.col("close_ts").isNotNull(), "both")
        .when(F.col("open_ts").isNotNull(), "open_only")
        .otherwise("close_only")
        .alias("side"),
    )


def enrich_stream_static(stream: DataFrame, dim: DataFrame, key: str, how: str = "left") -> DataFrame:
    """Stream-static join: enrich an unbounded stream with a bounded
    dimension table (the metrics pipeline's analog: tagging each parsed
    line with host metadata before aggregation).

    Unlike stream-stream joins this needs NO watermark and NO join state:
    every micro-batch plans a fresh batch join against the static side —
    Spark broadcasts the dimension when it fits
    (``autoBroadcastJoinThreshold``), so the stream side never shuffles.
    The static plan is re-resolved per batch, which is what makes
    slowly-refreshed dimension snapshots (e.g. a reloaded parquet dir)
    pick up on the next trigger. 100 TB: broadcast dims are the only
    sane shape — a shuffled stream-side join would re-partition every
    micro-batch.
    """
    return stream.join(F.broadcast(dim), key, how)


def dedup_initial_stream(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """First initial line per query id wins; repeats within the watermark
    horizon are dropped (``dropDuplicatesWithinWatermark`` — state expires
    with the watermark, unlike plain ``dropDuplicates`` whose key set grows
    forever, and unlike the reference's leaking map)."""
    opens = parsed.filter(F.col("event_kind") == "initial")
    if not parsed.isStreaming:
        return opens.dropDuplicates(["id"])
    return opens.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["id"])
