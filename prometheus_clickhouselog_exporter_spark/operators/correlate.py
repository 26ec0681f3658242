"""Batch lowering of the reference's stateful session correlation (ST1-ST5).

The reference keeps ``map[string]*chQuery`` keyed by query ID, inserted by
the initial line (query.go:91-130), mutated by stats/memory/error lines
(query.go:147-268), evicted on completion (main.go:125-129). The exact
arrival-order semantics live in the streaming path
(``streaming/session_state.py``); this module is the *batch* lowering over a
bounded log, with arrival order approximated by event time (ties broken by
the line's hash) — correct whenever the log's timestamps are monotone per
query ID, which ClickHouse guarantees per query.

``enrich_parsed`` builds the one typed event row all three session
lowerings read — ``annotate_events`` (the per-line A2-A9 tags),
``correlate_batch`` (one record per ID) and the streaming fold. It decides
two things once per line: ``valid`` (every cast on the line's code path
succeeded) and the arrival-order key ``(ts, line_hash)``. No lowering
re-derives either, so ``--batch`` and the live stream agree on tied lines.

Semantics preserved exactly (SURVEY §2.1 completion notes):
- first *valid* initial line wins; later initial lines for the same ID count
  as ``duplicated_initial_query`` (dup check precedes cast checks —
  query.go:91-95 — so a malformed later duplicate still counts as duplicate,
  while a malformed initial BEFORE any valid one counts as ``convert`` and
  does not occupy the session);
- stats/memory/error lines with no session at-or-before them count as
  ``not_found_query`` and are not joined (query.go:190, 237, 270);
- cast failures count as ``convert`` (at most one per line, as in the
  reference's first-failure-returns) and skip the line;
- elapsed = memory-line dt − initial dt, NOT the stats line's own elapsed
  field (query.go:226);
- ``full_info`` set by the memory line iff stmt is not INSERT
  (query.go:231-233); error lines never close a session (query.go:253-268).

Known batch deviation (documented, fixed in streaming): after eviction the
reference would treat a RE-USED query ID as a fresh session; batch keeps
one session per ID over the whole input.

Scale shape: ONE shuffle each. ``annotate_events``' session window and
``correlate_batch``'s aggregate partition by ``id``. Skewed IDs cannot
occur (ClickHouse query IDs are unique); AQE handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.bytesize import parse_bytes
from ..functions.stmt import classify_statement

_INSERT = "insert"

# The event row of ``enrich_parsed``, less ``valid`` (added after the barrier).
_EVENT_COLS = (
    "event_kind", "ts", "pid", "id", "host", "port", "query", "rows_read", "rps",
    "error_code", "error_message", "bytes_read", "speed", "memory_bytes",
    "stmt_type", "line_hash",
)


def enrich_parsed(parsed: DataFrame) -> DataFrame:
    """``parse_log_lines`` output → the one typed event row every session
    lowering reads (``annotate_events``, ``correlate_batch``, the streaming
    fold). Pure expressions — valid on bounded and streaming DataFrames.

    Besides the parsed fields it carries ``bytes_read``/``speed``/
    ``memory_bytes`` (C3 byte parses), ``stmt_type`` (X1), ``line_hash``
    (xxhash64 of the raw line: with ``ts`` the arrival-order key of every
    lowering, so the ~100-byte raw line never enters a shuffle, a window
    buffer or the Arrow boundary) and ``valid``: every cast on the line's
    reference code path succeeded (query.go:96-116, 150-176, 209-222,
    255-260) — no ``convert_error``, and the stats line's bytes and speed,
    or the memory line's bytes, parsed. The raw strings and
    ``convert_error`` do not leave.

    The projection sits in a Generate BARRIER: the conditional parse trees
    are referenced by ``valid`` and by downstream predicates and
    aggregates; without a barrier project collapse inlines them into every
    reference and CSE cannot dedupe them (conditionals are exempt) —
    measured ~4× re-evaluation. After the barrier they are plain
    attributes: the regex work runs once per line, BEFORE any shuffle. One
    select, not a chain of ``withColumn``s: every DataFrame op re-walks the
    deep parse plan driver-side."""
    k = F.col("event_kind")
    typed = F.struct(
        k, F.col("ts"), F.col("pid"), F.col("id"), F.col("host"), F.col("port"),
        F.col("query"), F.col("rows_read"), F.col("rps"),
        F.col("error_code"), F.col("error_message"), F.col("convert_error"),
        F.when(k == "stats", parse_bytes(F.col("bytes_raw"))).alias("bytes_read"),
        F.when(k == "stats", parse_bytes(F.col("speed_raw"))).alias("speed"),
        F.when(k == "memory", parse_bytes(F.col("memory_raw"))).alias("memory_bytes"),
        F.when(k == "initial", classify_statement(F.col("query"))).alias("stmt_type"),
        F.xxhash64(F.col("raw_line")).alias("line_hash"),
    )
    e = F.col("_e.event_kind")
    valid = (
        ~F.col("_e.convert_error")
        & ((e != "stats") | (F.col("_e.bytes_read").isNotNull() & F.col("_e.speed").isNotNull()))
        & ((e != "memory") | F.col("_e.memory_bytes").isNotNull())
    )
    return parsed.select(F.explode(F.array(typed)).alias("_e")).select(
        *(f"_e.{c}" for c in _EVENT_COLS), valid.alias("valid")
    )


def annotate_events(parsed: DataFrame) -> DataFrame:
    """Add session context to every event row of ``enrich_parsed`` (one
    shuffle, by id).

    Adds: ``session_start_ts``/``session_stmt``, ``is_session_line`` (the
    winning initial), ``found`` (enrich line has a session at-or-before
    it), ``stats_valid``/``memory_valid``/``error_valid`` (a found, valid
    line of that kind), and ``err_type`` — the A4 internal-error label for
    this line (duplicated_initial_query | convert | not_found_query | NULL).
    """
    k = F.col("event_kind")
    is_ini = k == "initial"
    valid = F.col("valid")
    df = enrich_parsed(parsed)

    valid_ini = is_ini & valid
    line_h = F.col("line_hash")
    order_key = F.struct(F.col("ts"), line_h.alias("h"))

    # ONE unordered window carries the whole session identity: the winning
    # initial is min(struct(ts, h, stmt)) over the id partition (struct
    # ordering is lexicographic and (ts, h) is unique), so no ordered
    # window — and therefore no per-partition sort — is needed.
    w = Window.partitionBy("id")
    skey = F.min(
        F.when(valid_ini, F.struct(F.col("ts"), line_h.alias("h"), F.col("stmt_type").alias("stmt")))
    ).over(w)
    df = df.withColumn("_sk", skey)
    df = df.withColumn(
        "_session_key", F.when(F.col("_sk").isNotNull(), F.struct(F.col("_sk.ts"), F.col("_sk.h")))
    )
    session_line = valid_ini & (order_key == F.col("_session_key"))
    df = (
        df.withColumn("is_session_line", F.coalesce(session_line, F.lit(False)))
        .withColumn("session_start_ts", F.col("_sk.ts"))
        .withColumn("session_stmt", F.col("_sk.stmt"))
        .drop("_sk")
    )
    session_exists = F.col("session_start_ts").isNotNull()

    found = session_exists & (F.col("ts").isNull() | (F.col("ts") >= F.col("session_start_ts")))
    df = df.withColumn("found", F.coalesce(~is_ini & found, F.lit(False)))

    stats_valid = (k == "stats") & F.col("found") & valid
    memory_valid = (k == "memory") & F.col("found") & valid
    error_valid = (k == "error") & F.col("found") & valid
    df = (
        df.withColumn("stats_valid", stats_valid)
        .withColumn("memory_valid", memory_valid)
        .withColumn("error_valid", error_valid)
    )

    # A4 label per line (precedence mirrors each reference code path).
    dup = is_ini & session_exists & ~F.col("is_session_line") & (order_key > F.col("_session_key"))
    err_type = (
        F.when(dup, "duplicated_initial_query")
        .when(~is_ini & ~F.col("found"), "not_found_query")
        .when(~valid, "convert")
    )
    return df.withColumn("err_type", err_type).drop("_session_key")


def correlate_batch(parsed: DataFrame) -> DataFrame:
    """Parsed events → one correlated session row per query id (the batch
    rendering of the reference's ``chQuery`` record, query.go:25-45).

    Repeated enrich lines follow last-write-wins by event time, matching the
    reference's in-place mutation under monotone arrival.

    Physical shape: ONE exchange, ONE aggregation, NO window. The session
    identity (winning initial = min struct over (ts, hash)) and each kind's
    last-write-wins payload (max struct) are declarative conditional
    aggregates in a single partial+final aggregate (SortAggregate — struct
    buffers are not UnsafeRow-mutable, so hash agg is unavailable; the sort
    is by the group key only) — where the previous window-based lowering
    additionally buffered every partition through WindowExec before a
    second aggregate. The "is this enrich line at-or-after the session
    start" (orphan) test moves AFTER the agg: orphans have ts < start ≤ any
    found line's ts, so the max struct picks a found line whenever one
    exists, and a post-agg ``ts >= start`` check nulls the all-orphan case.
    NULL-ts lines (the reference never parses stats/error dt, so a
    dash-separated timestamp yields a valid line with NULL ts) always count
    as found and sort below every non-null ts in the window ordering; a
    second conditional agg per kind preserves exactly that: used only when
    the non-null max is orphan or absent. Initial/memory NULL ts is
    impossible here (parse marks it a convert error, so not ``valid``).
    """
    k = F.col("event_kind")
    ev = enrich_parsed(parsed)

    h = F.col("line_hash")
    ok = F.col("valid")
    sta_ok = (k == "stats") & ok
    err_ok = (k == "error") & ok
    tsn = F.col("ts").isNotNull()

    ini = F.min(
        F.when(
            (k == "initial") & ok,
            F.struct(
                F.col("ts"), h.alias("h"), F.col("host"), F.col("port"),
                F.col("pid"), F.col("query"), F.col("stmt_type"),
            ),
        )
    ).alias("_ini")
    sta = F.max(
        F.when(
            sta_ok & tsn,
            F.struct(F.col("ts"), h.alias("h"), F.col("rows_read"), F.col("bytes_read"), F.col("rps"), F.col("speed")),
        )
    ).alias("_sta")
    sta_u = F.max(
        F.when(
            sta_ok & ~tsn,
            F.struct(h.alias("h"), F.col("rows_read"), F.col("bytes_read"), F.col("rps"), F.col("speed")),
        )
    ).alias("_sta_u")
    mem = F.max(
        F.when((k == "memory") & ok, F.struct(F.col("ts"), h.alias("h"), F.col("memory_bytes")))
    ).alias("_mem")
    err = F.max(
        F.when(err_ok & tsn, F.struct(F.col("ts"), h.alias("h"), F.col("error_code"), F.col("error_message")))
    ).alias("_err")
    err_u = F.max(
        F.when(err_ok & ~tsn, F.struct(h.alias("h"), F.col("error_code"), F.col("error_message")))
    ).alias("_err_u")

    out = (
        ev.groupBy("id")
        .agg(ini, sta, sta_u, mem, err, err_u)
        .filter(F.col("_ini").isNotNull())
    )

    start = F.col("_ini.ts")
    sta_found = F.col("_sta").isNotNull() & (F.col("_sta.ts") >= start)
    mem_found = F.col("_mem").isNotNull() & (F.col("_mem.ts") >= start)
    err_found = F.col("_err").isNotNull() & (F.col("_err.ts") >= start)
    err_any = err_found | F.col("_err_u").isNotNull()

    def pick(found: Column, n: str, field: str) -> Column:
        return F.when(found, F.col(f"_{n}.{field}")).otherwise(F.col(f"_{n}_u.{field}"))

    elapsed = (F.unix_micros(F.col("_mem.ts")) - F.unix_micros(start)) / 1e6
    return out.select(
        "id",
        F.col("_ini.host").alias("host"),
        F.col("_ini.port").alias("port"),
        F.col("_ini.pid").alias("pid"),
        F.col("_ini.query").alias("query"),
        F.col("_ini.stmt_type").alias("stmt_type"),
        start.alias("start_time"),
        pick(sta_found, "sta", "rows_read").alias("rows_read"),
        pick(sta_found, "sta", "bytes_read").alias("bytes_read"),
        pick(sta_found, "sta", "rps").alias("rps"),
        pick(sta_found, "sta", "speed").alias("speed"),
        F.when(mem_found, F.col("_mem.memory_bytes")).alias("memory"),
        F.when(mem_found, F.col("_mem.ts")).alias("end_time"),
        err_any.alias("error"),
        pick(err_found, "err", "error_code").alias("error_code"),
        pick(err_found, "err", "error_message").alias("error_message"),
        F.when(mem_found, elapsed).alias("elapsed"),
        (mem_found & (F.col("_ini.stmt_type") != _INSERT)).alias("full_info"),
    )
