"""Log-line parsing: F1 coarse filter, F2 dispatch, P1-P4 regex projection,
C1 int casts, C2 timestamp parse — all as pure column expressions shared by
the batch and streaming pipelines.

Reference regexes: query.go:15-18 (Go named groups become positional Java
groups here — Spark's ``regexp_extract`` addresses groups by index).

Performance: the naive rendering is one ``regexp_extract`` per field — 7
regex evaluations per line for the initial shape. Instead each matched line
is rewritten ONCE per shape via ``regexp_replace`` with ``$1$2...``
backreferences and split on the separator: one regex evaluation + one split
per shape, gated by the coarse substring filter (F1) and an ``rlike``
cheap-reject per shape. Everything stays inside whole-stage codegen; at
100 TB of logs this is the difference between a scan-bound and a
regex-bound pipeline. (Separator U+0001 cannot appear in ClickHouse log
text.)

Failure semantics (reference contract, query.go:96-116): a line that matches
a shape but fails a cast yields NULL in the typed column and
``convert_error = true`` — counted downstream, never thrown. Lines matching
no shape are dropped here (silently, as in query.go:77) while still being
counted by A1 ``read_lines``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEP = ""

# Shared timestamp sub-pattern (query.go:15-18). The reference's regex admits
# [.\-/] separators but its Go layout only parses "." (SURVEY §2.1 C2); we
# mirror that: non-dot separators match the regex, then fail the timestamp
# parse and surface as convert errors.
_DT = r"\d{1,4}[.\-/]\d{1,2}[.\-/]\d{1,4} \d{1,2}:\d{1,2}:\d{1,2}\.\d{1,6}"

# P1 initial (query.go:15): dt, pid, id, host, port, additional, query
INITIAL_RE = (
    rf"^({_DT}) \[ (\d+) \] \{{(.*)\}} <Debug> executeQuery: "
    rf"\(from ((?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}):(\d+)(.*?)\) (.*)$"
)
# P2 stats (query.go:16): dt, pid, id, rows, bytes, elapsed, rps, speed
STATS_RE = (
    rf"^({_DT}) \[ (\d+) \] \{{(.*)\}} <Information> executeQuery: "
    rf"Read (\d+) rows, ([.\d]+ \w+) in ([.\d]+) sec\., ([.\d]+) rows/sec\., ([.\d]+ \w+)[/\w]+.$"
)
# P3 memory (query.go:17): dt, pid, id, bytes
MEMORY_RE = (
    rf"^({_DT}) \[ (\d+) \] \{{(.*)\}} <Debug> MemoryTracker: "
    rf"Peak memory usage \(for query\): ([.\d]+ \w+).$"
)
# P4 error (query.go:18): dt, pid, id, code, message
ERROR_RE = (
    rf"^({_DT}) \[ (\d+) \] \{{(.*)\}} <Error> executeQuery: "
    rf"Code: (\d+), e\.displayText\(\) = (.*)$"
)

TS_FORMAT = "yyyy.MM.dd HH:mm:ss.SSSSSS"


def _ts(raw: Column) -> Column:
    """C2: reference layout 2006.01.02 15:04:05.999999 (query.go:110).

    Go's .999999 accepts 1-6 fraction digits; Spark's SSSSSS wants exactly
    six, so the fraction is right-padded before parsing. Regex-free: the
    shape regex guarantees the string ends in ``.d{1,6}``, so the fraction
    is everything after the LAST dot (non-dot date separators still reach
    try_to_timestamp and fail to NULL there, preserving the reference's
    dot-only parse)."""
    frac = F.substring_index(raw, ".", -1)
    head = F.substring(raw, F.lit(1), F.length(raw) - F.length(frac))  # keeps the dot
    padded = F.concat(head, F.rpad(frac, 6, "0"))
    return F.try_to_timestamp(padded, F.lit(TS_FORMAT))


def coarse_filter(df: DataFrame, line_col: str = "value") -> DataFrame:
    """F1 (query.go:49-51): cheap substring gate before any regex runs.

    Catalyst keeps this predicate ahead of the regexp projections, so the
    3 contains-scans short-circuit the 4 regex matches for noise lines —
    the reference's cheap-predicate-first optimization, preserved."""
    c = F.col(line_col)
    return df.filter(c.contains("Debug") | c.contains("Information") | c.contains("Error"))


def parse_log_lines(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Raw log lines → typed event rows (F1+F2+P1-P4+C1+C2).

    Output schema (NULL where the shape lacks the field or a cast failed):
      event_kind  string  initial|stats|memory|error
      ts          timestamp
      pid         long
      id          string
      host        string        (initial only)
      port        long          (initial only)
      query       string        (initial only; raw SQL)
      rows_read   long          (stats)
      bytes_raw   string        (stats: human bytes, parsed downstream)
      elapsed_str string        (stats; captured but unused — query.go:16 vs :226)
      rps         long          (stats)
      speed_raw   string        (stats)
      memory_raw  string        (memory)
      error_code  long          (error; 64-bit — we do not copy the
                                 reference's 16-bit parse bug, query.go:255)
      error_message string      (error)
      convert_error boolean     shape matched but a required cast failed
    """
    line = F.col(line_col)
    gated = coarse_filter(df, line_col)

    # Per-line regex budget (the scan-stage cost that rules 100 TB of
    # logs): each shape's rewrite is gated by a contains() probe of its
    # literal anchor (the reference's cheap-predicate-first idea, F1,
    # applied per shape) — String.indexOf rejects the 3 non-matching
    # shapes for ~nothing, and the one surviving shape runs its regex
    # EXACTLY ONCE as a full-match rewrite (no separate rlike probe:
    # an anchored pattern that doesn't match leaves the line unchanged,
    # so "split produced the group count" *is* the match test; \x01
    # cannot appear in log text). Net: ~4 indexOf + 1 regex execution
    # per matched line — measured 2.1× over the ungated rlike-then-rewrite
    # form (1.06M → 2.25M lines/s on local[32]).
    #
    # The gated rewrites are materialized through an explode(array(...))
    # Generate BARRIER before any reference. Without it, Catalyst's
    # project collapse inlines the conditional regex trees into every
    # downstream use and CSE cannot hoist them (conditional branches are
    # exempt from subexpression elimination) — measured 10× slowdown.
    # After the barrier each split array is a plain attribute; the
    # when-chain dispatch and the typed projection reference attributes
    # only, and the codegen stays far below janino's 64 KB method limit.
    def gate(anchor: str, pattern: str, n: int) -> Column:
        replacement = SEP.join(f"${i}" for i in range(1, n + 1))
        return F.when(
            line.contains(anchor), F.split(F.regexp_replace(line, pattern, replacement), SEP)
        )

    pre = gated.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(line_col).alias("raw_line"),
                    gate("<Debug> executeQuery:", INITIAL_RE, 7).alias("g_ini"),
                    gate("<Information> executeQuery:", STATS_RE, 8).alias("g_sta"),
                    gate("<Error> executeQuery:", ERROR_RE, 5).alias("g_err"),
                    gate("<Debug> MemoryTracker:", MEMORY_RE, 4).alias("g_mem"),
                )
            )
        ).alias("_p")
    ).select("_p.*")

    # F2 dispatch: first matching shape wins. The four anchors are mutually
    # exclusive (<Debug> executeQuery / <Information> executeQuery /
    # <Debug> MemoryTracker / <Error> executeQuery), so CASE order only
    # matters for fidelity of the tie that cannot occur (query.go:53-75).
    def matched(g: str, n: int) -> Column:
        return F.size(F.col(g)) == n

    g_struct = (
        F.when(matched("g_ini", 7), F.struct(F.lit("initial").alias("kind"), F.col("g_ini").alias("g")))
        .when(matched("g_sta", 8), F.struct(F.lit("stats").alias("kind"), F.col("g_sta").alias("g")))
        .when(matched("g_err", 5), F.struct(F.lit("error").alias("kind"), F.col("g_err").alias("g")))
        .when(matched("g_mem", 4), F.struct(F.lit("memory").alias("kind"), F.col("g_mem").alias("g")))
    )
    parsed = pre.select(
        F.explode(F.array(g_struct)).alias("_g"), F.col("raw_line")
    ).filter(F.col("_g.kind").isNotNull())

    kind = F.col("_g.kind")

    def at(i: int) -> Column:
        return F.element_at(F.col("_g.g"), i)

    is_ini = kind == "initial"
    is_sta = kind == "stats"
    is_mem = kind == "memory"
    is_err = kind == "error"

    out = parsed.select(
        kind.alias("event_kind"),
        _ts(at(1)).alias("ts"),
        at(2).try_cast("long").alias("pid"),
        at(3).alias("id"),
        F.when(is_ini, at(4)).alias("host"),
        F.when(is_ini, at(5).try_cast("long")).alias("port"),
        F.when(is_ini, at(7)).alias("query"),
        F.when(is_sta, at(4).try_cast("long")).alias("rows_read"),
        F.when(is_sta, at(5)).alias("bytes_raw"),
        F.when(is_sta, at(6)).alias("elapsed_str"),
        F.when(is_sta, at(7).try_cast("long")).alias("rps"),
        F.when(is_sta, at(8)).alias("speed_raw"),
        F.when(is_mem, at(4)).alias("memory_raw"),
        F.when(is_err, at(4).try_cast("long")).alias("error_code"),
        F.when(is_err, at(5)).alias("error_message"),
        F.col("raw_line"),
    )

    # C1/C2 failure detection, mirroring exactly which casts each reference
    # code path performs: initial parses pid/port/dt (query.go:96-116); stats
    # parses rows/rps here and bytes/speed downstream (query.go:150-176);
    # memory parses dt (query.go:209-215, bytes downstream); error parses
    # code (query.go:255-260). Stats/error lines never parse their dt in the
    # reference, so a NULL ts is not a convert error for those shapes.
    k = F.col("event_kind")
    convert_error = (
        ((k == "initial") & (F.col("ts").isNull() | F.col("pid").isNull() | F.col("port").isNull()))
        | ((k == "stats") & (F.col("rows_read").isNull() | F.col("rps").isNull()))
        | ((k == "memory") & F.col("ts").isNull())
        | ((k == "error") & F.col("error_code").isNull())
    )
    return out.withColumn("convert_error", F.coalesce(convert_error, F.lit(False)))

