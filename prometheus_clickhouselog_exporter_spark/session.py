"""SparkSession construction tuned for both the local test harness and the
100 TB design point.

Local mode (``local[N]``) is a single JVM: shuffles are driver-local disk and
``spark.driver.memory`` is the only memory knob. The cluster-facing settings
(AQE, skew-join handling, broadcast threshold, shuffle partitions) are chosen
so the *same plan shapes* that pass at sf0.01 survive a 1000-executor run:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means a
  partition count picked for 100 TB does not over-parallelize small batches.
- ``spark.sql.shuffle.partitions``: at 100 TB you would set this to roughly
  ``input_bytes / 128MB`` (~800k) and let AQE coalesce; locally we use the
  core count so tests don't schedule 200 empty tasks.
- Arrow enabled: every Pandas-UDF boundary (sessionization, multimodal) is
  Arrow-batched, never row-at-a-time pickling.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the CLI's core count: the host's usable CPUs unless $SPARK_GRAFT_CPUS says
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "prometheus-clickhouselog-exporter-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
