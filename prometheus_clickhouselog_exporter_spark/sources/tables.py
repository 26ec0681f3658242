"""Parquet table loaders for the driver's synthetic star schema.

Columnar scans with Catalyst pushdown are the engine's default source —
the operator library consumes DataFrames, so CSV/JSON/ORC (see
``read_any``) flow through identically. At 100 TB the only change is the
path: the same `spark.read.parquet` over a partitioned directory tree
gets partition pruning + predicate pushdown for free.
"""

from __future__ import annotations

import itertools

from pyspark import SparkContext
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at every realistic scale factor.
BROADCAST_DIMS = ("region", "nation", "supplier")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_nanos_safe(spark, f"{sf_dir}/{name}.parquet")


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) in the parquet footer (driver-side
    metadata read only — no data scan)."""
    import os

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    if os.path.isdir(path):
        files = [f for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        if not files:
            return []
        path = os.path.join(path, files[0])
    pf = pq.ParquetFile(path)
    # INT96 (Spark's default parquet timestamp encoding) also surfaces as
    # timestamp[ns] in the ARROW schema, but Spark reads it natively as
    # TIMESTAMP — only INT64-with-nanos needs the nanosAsLong + div-1000
    # repair. Physical types come from the parquet schema (flat tables:
    # leaf order == arrow field order).
    int96 = {
        pf.schema.column(i).name
        for i in range(len(pf.schema.names))
        if pf.schema.column(i).physical_type == "INT96"
    }
    schema = pf.schema_arrow
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns" and f.name not in int96
    ]


def read_parquet_nanos_safe(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that tolerates TIMESTAMP(NANOS) columns.

    Spark's vectorized reader rejects INT64(NANOS) outright; with the
    ``nanosAsLong`` legacy conf it reads them as raw nanos longs, which we
    convert to microsecond timestamps (``x div 1000`` — integer division,
    no double round-trip). Sub-microsecond precision is truncated, matching
    what Spark timestamps can represent at all.
    """
    from pyspark.sql import functions as F  # local: keep module import light

    nanos = _nanos_columns(path)
    if not nanos:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_any(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
    """Format-generic scan (parquet/csv/json/text/orc/xml).

    XML is Spark-4 built-in (the merged spark-xml): pass
    ``fmt="xml", rowTag="row"``. Always pass an explicit schema for
    csv/json/xml in production paths — inference triggers an extra full
    scan.
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).load(path)


def fan_out(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Round-robin repartition a narrow scan up to the cluster parallelism
    before CPU-heavy per-row work (regex parse, shingling, signatures,
    suffix slices, ANN encodes).

    Why: a parquet file's row group is the minimum split unit, so a small
    input (one row group) pins the whole codegen pipeline above it to ONE
    core no matter how many the session has — `maxPartitionBytes` cannot
    split below a row group, and AQE only coalesces, never fans out a scan.
    On a real cluster the 100 TB input has thousands of splits and this is
    a no-op (partitions already ≥ parallelism/min_factor); locally it
    trades a tiny shuffle of the raw rows for full-width execution of the
    expensive expressions above.

    The width signal is ``inputFiles()`` — plan metadata, not
    ``df.rdd.getNumPartitions()``, which would materialize the Python RDD
    wrapper (and its whole conversion path) on the driver per query build.
    File count lower-bounds the scan's split count, and the case this
    helper exists for IS the few-files case; non-file inputs (empty list)
    conservatively fan out. Lives here (not workloads/core) since r13 so
    OPERATORS can apply it at their scan edge too — workloads.core
    re-exports it."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files and n_files * min_factor >= target:
        return df
    return df.repartition(target)


# The one process-scoped cache: slot -> (version, value, owning Spark
# application id or None). In memory only; it dies with the process.
_MEMO: dict[tuple, tuple] = {}


def _live_app() -> str | None:
    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else None


def memo(slot: tuple, version, build):
    """``build()``'s value for ``slot``, built once per ``version``.

    A session reuses its derived structures across many queries (ANN
    trainers and edge lists, fidelity corpora, broadcast profiles, file
    listings); every such reuse goes through here under one rule.
    ``slot`` names what is cached — the kind, the hyperparameters and the
    source identity (table, sf_dir). ``version`` names what the value was
    built from — file provenance, a directory signature, and the
    ``applicationId`` for a value tied to a Spark context. A slot holds
    one entry: an equal version is a hit; any other version drops the
    entry and ``build`` runs again. The entry is recorded only after
    ``build`` returns, so a failed build leaves nothing behind.

    A superseded ``Broadcast`` built under the live application is
    ``destroy()``ed. One built under another application is only
    dropped: its blocks died with that SparkContext, and a new context
    numbers broadcasts from 0 again, so ``destroy()`` would reach the
    live broadcast that now has its id."""
    entry = _MEMO.get(slot)
    if entry is not None:
        if entry[0] == version:
            return entry[1]
        del _MEMO[slot]
        if isinstance(entry[1], Broadcast) and entry[2] == _live_app():
            entry[1].destroy()
    value = build()
    _MEMO[slot] = (version, value, _live_app() if isinstance(value, Broadcast) else None)
    return value


def _session_base() -> str:
    import atexit
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="chlog-session-")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


_TMP_SEQ = itertools.count()


def session_tmpdir(prefix: str) -> str:
    """A new empty directory under the process's one session base, which
    is removed at exit. Per-run state (checkpoints, sinks) and session
    caches (fidelity corpora, kNN edge lists) both live here, so a run
    that fails before its own cleanup cannot leak a directory past the
    process."""
    import os

    d = os.path.join(memo(("session_base",), None, _session_base), f"{prefix}{next(_TMP_SEQ)}")
    os.mkdir(d)
    return d
