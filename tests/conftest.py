from __future__ import annotations

import importlib.util
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The tws integration suite needs the real protobuf runtime for Spark's
# state-server wire protocol (ADR in SCALE.md). Where protobuf is absent the
# suite can never run, so gate it at COLLECTION time rather than reporting
# perpetual skips; the in-process harness (test_session_tws_harness.py)
# executes the same processor glue everywhere.
collect_ignore: list[str] = []
if importlib.util.find_spec("google") is None or importlib.util.find_spec("google.protobuf") is None:
    collect_ignore.append("test_session_tws.py")

# The Avro round-trip needs the external spark-avro datasource module
# (this distribution ships only avro-core; probed r4 — the format raises
# AnalysisException without it). Same collection-gate discipline as tws:
# the suite lights up on any deployment whose distribution bundles
# spark-avro, no perpetual skips here.
_spark_jars = os.path.join(
    os.path.dirname(importlib.util.find_spec("pyspark").origin), "jars"
)
import glob as _glob

if not _glob.glob(os.path.join(_spark_jars, "spark-avro*")):
    collect_ignore.append("test_avro_roundtrip.py")

from pyspark.broadcast import Broadcast

from prometheus_clickhouselog_exporter_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cores=4, shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def fixture_log(tmp_path_factory):
    from prometheus_clickhouselog_exporter_spark.sources.fixtures import standard_corpus

    path = tmp_path_factory.mktemp("logs") / "clickhouse-server.log"
    standard_corpus().write(str(path))
    return str(path)


def jobs_of(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs on this thread."""
    sc = spark.sparkContext
    group = f"count-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def write_events_parquet(path, rows):
    """Shared events fixture writer: explicit microsecond timestamps via
    pyarrow (Spark's own writer emits INT96, which pyarrow reports as
    nanos and trips the nanos-safe loader's rewrite). ``rows`` are
    (event_id, ts, user_id, event_type, value) tuples."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    t = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(t, str(path))


class FakeBroadcast(Broadcast):
    """A Broadcast that ``sources.tables.memo``'s release rules see, with
    no JVM behind it: records whether it was destroyed."""

    def __init__(self) -> None:
        self.destroyed = False

    def destroy(self, blocking: bool = False) -> None:
        self.destroyed = True
