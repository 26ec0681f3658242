"""End-to-end streaming pipeline (the reference's main loop, main.go:70-145,
as Structured Streaming):

    text file source over the log directory (S1/S2, rotation-safe)
      → coarse filter + regex parse (F1/F2/P1-P4, shared with batch)
      → the typed event row (C3 byte parse, X1 classification, cast
        verdict, arrival-order hash; ``correlate.enrich_parsed``)
      → stateful sessionization by query id (ST1-ST5 + timeout)
      → foreachBatch Prometheus snapshot sink (K1/A1-A9)

A second lightweight query counts raw lines for A1 (the reference counts
every tailed line before parsing, main.go:119).

Checkpointing replaces the reference's manual offset handling (S2): a fresh
checkpoint dir ≈ --from-start; an existing one resumes. `stop()` on the
returned queries is the graceful-shutdown path (K2) — state and offsets are
in the checkpoint, so restart loses nothing (the reference loses its whole
map on restart).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.correlate import enrich_parsed
from ..operators.parsing import parse_log_lines
from ..sources.logsource import read_log_stream
from .session_state import sessionize_stream
from .sink import PrometheusSnapshotSink

# Longest stop() waits for a running session trigger to finish.
_STOP_WAIT_S = 20.0

# Micro-batch interval of the live tail. Without a bound, any pending
# processing-time state timer makes the engine run no-data batches
# back-to-back (observed: hundreds of empty batches per minute, each
# writing a state-store version) — a pure CPU/IO burn. One-second
# triggers keep metric latency negligible and batch count sane.
_TRIGGER_INTERVAL = "1 second"


@dataclass
class LogPipeline:
    sessions_query: StreamingQuery
    lines_query: StreamingQuery
    sink: PrometheusSnapshotSink
    available_now: bool = False

    def process_all_available(self) -> None:
        if self.available_now:
            # availableNow queries self-terminate after the backlog —
            # awaitTermination is the drain, with no trigger-boundary
            # waits and no no-data timer batches afterwards.
            self.lines_query.awaitTermination()
            self.sessions_query.awaitTermination()
        else:
            self.lines_query.processAllAvailable()
            self.sessions_query.processAllAvailable()

    def stop(self) -> None:
        """Graceful shutdown (K2). Stopping the session stream while its
        foreachBatch hook runs Spark jobs can kill the stream thread with
        a StackOverflowError (Spark matches the long py4j error message
        against a backtracking regex), so the lines stream stops first and
        a running session trigger is let finish (bounded by ``_STOP_WAIT_S``):
        the stop then lands in the wait for the next trigger."""
        if self.lines_query.isActive:
            self.lines_query.stop()
        q = self.sessions_query
        last = (q.lastProgress or {}).get("batchId")
        deadline = time.monotonic() + _STOP_WAIT_S
        while (q.isActive and q.status["isTriggerActive"] and time.monotonic() < deadline
               and (q.lastProgress or {}).get("batchId") == last):
            time.sleep(0.01)
        if q.isActive:
            q.stop()


def run_log_pipeline(
    spark: SparkSession,
    log_dir: str,
    checkpoint_dir: str,
    sink: PrometheusSnapshotSink | None = None,
    timeout_ms: int = 0,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
) -> LogPipeline:
    """The live tail runs one micro-batch per ``_TRIGGER_INTERVAL``.

    ``available_now=True`` is the BOUNDED-drain mode (fidelity harness,
    replay-then-exit jobs): Trigger.AvailableNow processes the whole
    backlog and self-terminates, so the drain pays no trigger-boundary
    waits; processing-time session TIMEOUTS never fire in this mode
    (the query exits once the backlog is handled), so only use it where
    completion comes from the data (memory lines), not from eviction —
    the live tail path keeps the interval trigger."""
    sink = sink or PrometheusSnapshotSink()

    raw = read_log_stream(spark, log_dir, max_files_per_trigger)
    sessions = sessionize_stream(enrich_parsed(parse_log_lines(raw)), timeout_ms)

    sessions_writer = (
        sessions.writeStream.outputMode("append")
        .foreachBatch(sink.process_batch)
        .option("checkpointLocation", f"{checkpoint_dir}/sessions")
        .queryName("ch_log_sessions")
    )
    lines_writer = (
        read_log_stream(spark, log_dir, max_files_per_trigger)
        .writeStream.outputMode("append")
        .foreachBatch(sink.count_lines_batch)
        .option("checkpointLocation", f"{checkpoint_dir}/lines")
        .queryName("ch_log_lines")
    )
    if available_now:
        sessions_writer = sessions_writer.trigger(availableNow=True)
        lines_writer = lines_writer.trigger(availableNow=True)
    else:
        sessions_writer = sessions_writer.trigger(processingTime=_TRIGGER_INTERVAL)
        lines_writer = lines_writer.trigger(processingTime=_TRIGGER_INTERVAL)
    return LogPipeline(
        sessions_writer.start(), lines_writer.start(), sink, available_now
    )
