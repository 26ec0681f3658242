"""LLM-data + streaming-certification ops, round 4.

Batch: `image_phash_dct` (integer-exact DCT perceptual hash over the
real BMP lane), `image_pair_luma_similarity` (exact pixel-domain
co-moments), `timeseries_acf_by_type` (per-key correlogram),
`text_chunk_sliding_windows` (RAG chunking with content fingerprints),
`corpus_datacard_report` (the one-stop per-source summary), and
`join_salted_user_enrich` (the skew-salting technique as a certified
operator, operators/skewjoin.py).

Streaming fidelity family — the r4 push to get every streaming operator
family VALUE-HASH-certified, not just golden-tested: each query runs
the REAL Structured Streaming execution (file source → operator →
memory/parquet sink) over a corpus derived from the oracle tables, then
DuckDB recomputes the expected final state by independent arithmetic.
Order-sensitive monitors (`streaming_runs_fidelity`,
`streaming_acf1_fidelity`), watermarked sliding windows
(`streaming_sliding_window_fidelity`), stream-stream interval join
(`streaming_interval_join_fidelity`), watermarked dedup
(`streaming_dedup_fidelity`), the day-close CUSUM recurrence
(`streaming_cusum_fidelity`), row-level attribution, the medallion CDC
silver snapshot, the exactly-once bitmap and MinHash sinks, the ordered
funnel, and Misra-Gries heavy hitters (deterministic bound booleans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import memo, session_tmpdir
from .core import fround, query, table

_PHASH_DOCS = 64


@query(
    "image_phash_dct",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 8 + (doc_id * 3) % 16 AS h
      FROM documents WHERE doc_id < {_PHASH_DOCS}
    ),
    grid AS (
      SELECT doc_id, (x.x * w) // 32 AS sx, (y.y * h) // 32 AS sy, x.x, y.y
      FROM d, range(32) x(x), range(32) y(y)
    ),
    lum AS (
      SELECT doc_id, x, y,
             299 * ((7 * sx + doc_id) % 256)
             + 587 * ((11 * sy + doc_id) % 256)
             + 114 * ((sx + sy) % 256) AS l
      FROM grid
    ),
    qc AS (
      SELECT u.u, x.x,
             CAST(floor(cos(pi() * (2 * x.x + 1) * u.u / 64) * 10000 + 0.5)
                  AS BIGINT) AS c
      FROM range(8) u(u), range(32) x(x)
    ),
    p AS (  -- contract over y first (separable DCT)
      SELECT l.doc_id, l.x, q.u AS v, sum(q.c * l.l) AS pv
      FROM lum l JOIN qc q ON q.x = l.y GROUP BY 1, 2, 3
    ),
    dct AS (
      SELECT p.doc_id, q.u AS u, p.v, sum(q.c * p.pv) AS dd
      FROM p JOIN qc q ON q.x = p.x GROUP BY 1, 2, 3
    ),
    ac AS (
      SELECT doc_id, u, v, dd,
             row_number() OVER (PARTITION BY doc_id ORDER BY dd) AS rn
      FROM dct WHERE NOT (u = 0 AND v = 0)
    ),
    med AS (SELECT doc_id, dd AS m FROM ac WHERE rn = 32)
    SELECT ac.doc_id,
           CAST(sum(CASE WHEN ac.dd > med.m
                    THEN (CAST(1 AS BIGINT) << CAST(ac.u * 8 + ac.v - 1 AS INT))
                    ELSE 0 END) AS BIGINT) AS phash,
           CAST(max(dc.dd) AS BIGINT) AS dc_coeff,
           CAST(max(med.m) AS BIGINT) AS ac_median
    FROM ac
    JOIN med ON med.doc_id = ac.doc_id
    JOIN dct dc ON dc.doc_id = ac.doc_id AND dc.u = 0 AND dc.v = 0
    GROUP BY ac.doc_id
    """,
)
def image_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-based perceptual hash over the REAL image lane: synthesize
    spec-correct 24-bit BMPs (operators/multimodal.synth_bmp — padded
    bottom-up BGR rows), decode them back, and hash via an 8×8
    low-frequency DCT block computed ENTIRELY in BIGINT arithmetic
    (quantized cosine basis ⌊cos·10⁴+0.5⌋; luma kept ×1000; NN
    resample by integer floor-scaling) — so the oracle can rebuild the
    exact 63-bit hash from the pixel closed form with two separable
    group-by contractions and zero float accumulation. The dc_coeff and
    ac_median columns certify the transform interior, not just the
    thresholded bits.

    100 TB: scan-stage kernel, two 8×32 integer GEMMs per image; the
    8-byte hash is all that ever shuffles (near-dup banding downstream
    treats it like SimHash). Compressed formats (JPEG/PNG) raise at the
    decode gate naming the codec a deployment plugs in.
    """
    from ..operators.multimodal import phash_dct, synth_bmp

    d = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _PHASH_DOCS
    )
    return phash_dct(synth_bmp(d, "doc_id"))


@query(
    "timeseries_acf_by_type",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type, k.k,
             CAST(sum(a.x * b.x) AS BIGINT) AS a_k,
             CAST(sum(a.x) AS BIGINT) AS p_k,
             CAST(sum(b.x) AS BIGINT) AS q_k,
             CAST(count(*) AS BIGINT) AS m_k
      FROM daily a
      JOIN range(1, 8) k(k) ON true
      JOIN daily b ON b.event_type = a.event_type
                  AND b.d = a.d + CAST(k.k AS INT)
      GROUP BY 1, 2
    )
    SELECT p.event_type, CAST(p.k AS INT) AS lag, b.n AS n_days,
           p.m_k AS n_pairs,
           floor((CAST(b.n * b.n * p.a_k - b.n * b.s * (p.p_k + p.q_k)
                       + p.m_k * b.s * b.s AS DOUBLE)
                  / CAST(b.n * b.n * b.sxx - b.n * b.s * b.s AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS acf
    FROM pairs p JOIN base b ON b.event_type = p.event_type
    ORDER BY p.event_type, lag
    """,
)
def timeseries_acf_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key autocorrelation function: lags 1-7 of the daily event
    count per event_type — the seasonality screen (weekly periodicity
    shows as an acf(7) spike) generalizing the single-lag
    timeseries_autocorr_daily to a full correlogram. Calendar-lag
    semantics: a (t, t+k) pair exists iff BOTH days were observed, so
    gaps drop pairs instead of inventing zeros, and the mean-centering
    identity n²·C_k = n²·A_k − n·S·(P_k+Q_k) + m_k·S² keeps every
    accumulation an exact BIGINT (counts are integers; the only float
    op is the final frounded ratio — bit-identical across engines).
    Magnitude budget: the largest cross term is n²·sxx ≤ n³·x̂² — which
    exceeds 2⁶³ already at ~365 days × ~4·10⁵ events/day/type, so the
    guard below fail-louds at a 2⁶² budget (the numpy-astype rule,
    SCALE.md) instead of letting non-ANSI BIGINT wrap return a silently
    wrong acf; rescale counts (e.g. fold to per-kilo-events) past it.

    Scale shape: the corpus folds to (type, day) rows map-side FIRST;
    the 7-lag self-join and every aggregate run over that bounded
    series (types × days), so nothing downstream of the first fold is
    corpus-sized. Per-key windows stay partitioned — no global sort
    anywhere.
    """
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)  # types×days-sized; 3 consumers
    )
    base = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("x").alias("mx"),
    )
    # Fail-loud BIGINT budget: every cross term is bounded by n³·max(x)²
    # (n²·sxx, n·s·(p+q), m·s² all ≤ it). Checked in DOUBLE — the check
    # itself must not wrap — against 2⁶², leaving 2× headroom to 2⁶³.
    # raise_error feeds the n column so pruning can't drop the guard.
    _nd, _md = F.col("n").cast("double"), F.col("mx").cast("double")
    base = base.select(
        "event_type",
        F.when(
            _nd * _nd * _nd * _md * _md >= F.lit(float(2 ** 62)),
            F.raise_error(
                F.concat(
                    F.lit("timeseries_acf_by_type: BIGINT cross-term budget "
                          "n^3*max(x)^2 >= 2^62 for event_type "),
                    F.col("event_type"),
                    F.lit("; rescale daily counts before retuning"),
                )
            ).cast("bigint"),
        ).otherwise(F.col("n")).alias("n"),
        "s",
        "sxx",
    )
    lags = F.explode(F.array(*[F.lit(i) for i in range(1, 8)])).alias("k")
    a = daily.select("event_type", "d", "x", lags)
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("x").alias("x2"),
    )
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.col("d2") == F.date_add(F.col("d"), F.col("k"))),
        )
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.col("x") * F.col("x2")).alias("a_k"),
            F.sum("x").alias("p_k"),
            F.sum("x2").alias("q_k"),
            F.count(F.lit(1)).alias("m_k"),
        )
    )
    n, s, sxx = F.col("n"), F.col("s"), F.col("sxx")
    num = n * n * F.col("a_k") - n * s * (F.col("p_k") + F.col("q_k")) + F.col("m_k") * s * s
    den = n * n * sxx - n * s * s
    return (
        pairs.join(base, "event_type")
        .select(
            "event_type",
            F.col("k").cast("int").alias("lag"),
            n.cast("bigint").alias("n_days"),
            F.col("m_k").cast("bigint").alias("n_pairs"),
            fround(num.cast("double") / den.cast("double"), 6).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


_SEQ_FILTER = "value IS NOT NULL AND event_id % 16 = 0"
_RUNS_THRESHOLD = 5.0


# Tempdir for one fidelity run, under the process's session base
# (removed at exit), so a run that fails before its success-path cleanup
# (`_materialize`) cannot leak corpus-sized directories across repeated
# failing invocations (the disk-fill trap). Success still deletes eagerly.
_fidelity_tmp = session_tmpdir


_FIDELITY_SEQ: list[int] = [0]  # monotone per-session sink counter

# State-store observability (r7 verdict stretch #8): after each fidelity
# run, the LAST StreamingQueryProgress carrying stateOperators is
# harvested here, keyed by the harness label — numRowsTotal /
# memoryUsedBytes / customMetrics (loadedMapCacheHitCount on the
# default provider, rocksdb* under the RocksDB provider). At 100 TB
# these are the numbers an operator watches to see state outgrow the
# heap BEFORE it OOMs; tests/test_streaming_state_metrics.py pins that
# every stateful shape actually emits them.
STATE_METRICS: dict[str, list[dict]] = {}


def _harvest_state_metrics(q, label: str) -> None:
    for prog in reversed(q.recentProgress):
        sops = prog.get("stateOperators") or []
        if sops:
            STATE_METRICS[label] = [
                {
                    "operatorName": so.get("operatorName"),
                    "numRowsTotal": so.get("numRowsTotal"),
                    "numRowsUpdated": so.get("numRowsUpdated"),
                    "memoryUsedBytes": so.get("memoryUsedBytes"),
                    "customMetrics": dict(so.get("customMetrics") or {}),
                }
                for so in sops
            ]
            return


def _run_stream_to_memory(
    spark, stream, tmp: str, mode: str = "update", metrics_label: str | None = None,
    shuffle_partitions: int = 8,
):
    """Start `stream` into a uniquely-named memory sink (checkpoint under
    `tmp`), drain with processAllAvailable, stop, and return the sink's
    contents as a LOCAL DataFrame. Shared by every streaming-fidelity
    harness — the stop/drain discipline lives once. The sink name comes
    from a monotone session counter (hash(tmp) could collide between two
    runs and silently read the wrong sink), and the memory table is
    dropped after collection so each run's output does not stay pinned
    in driver memory for the session lifetime. Memory-sink contents are
    group-cardinality (bounded) by construction in every caller.

    `shuffle_partitions` scopes the STATE partition count for this one
    query (set before .start(), restored after stop): per micro-batch
    every stateful operator commits one state-store delta per partition,
    so a 32-partition fidelity run pays 32×(operators) filesystem
    commits per batch — ~2.5 s/batch of pure overhead on a corpus whose
    state fits in 8 (measured r9; sentinel and no-data batches carry
    ≤8 rows). This is a HARNESS parameter, not an engine claim: at
    100 TB the same queries run with shuffle partitions sized to state
    volume, and the certified output is partition-count-invariant (the
    hashes proved it — 32→8 left every fidelity hash unchanged)."""
    _FIDELITY_SEQ[0] += 1
    name = f"fid_{_FIDELITY_SEQ[0]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            # harvest BEFORE stop: progress history dies with the query
            _harvest_state_metrics(q, metrics_label or name)
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    sink = spark.table(name)
    # JVM-side materialization: localCheckpoint copies the (bounded)
    # sink contents into block storage so the temp view can be dropped —
    # no collect()/createDataFrame Python round-trip (r9: that pair cost
    # ~2 s per 100k-row fidelity run, twice per query with _materialize).
    out = sink.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def _materialize(spark, tmp: str, df, schema: str):
    """Pin the final frame to the declared schema, materialize it
    JVM-side (localCheckpoint), DELETE the fidelity tempdir (each run
    writes a corpus copy — the disk-fill trap), and return the detached
    DataFrame so the temp view/paths can go away safely."""
    import shutil

    from pyspark.sql import types as T

    out = df.to(T.StructType.fromDDL(schema)).localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _sequential_fidelity(spark, sf_dir, build_stream, out_schema):
    """Shared harness for the order-sensitive streaming monitors: write
    the deterministic corpus subset, run the REAL applyInPandasWithState
    stream over it (memory sink, update mode), return each key's final
    (max-n) row. The `% 16` subsample keeps every BIGINT cross term of
    the acf1 emission inside int64 at sf0.1 (m·Σq² ≤ ~1.6e18)."""
    tmp = _fidelity_tmp("seq-fidelity-")  # per-run ckpt/sink only
    ev = (
        table(spark, sf_dir, "events")
        .filter(_SEQ_FILTER)
        .select("event_type", "ts", "event_id", "value")
    )
    corpus = _cached_corpus(
        ("seq", sf_dir),
        lambda d: ev.write.mode("overwrite").parquet(f"{d}/in"),
    )
    stream = build_stream(
        spark.readStream.schema(
            "event_type string, ts timestamp, event_id long, value double"
        ).parquet(f"{corpus}/in")
    )
    out = _run_stream_to_memory(spark, stream, tmp)
    w = Window.partitionBy("event_type").orderBy(F.desc("n"))
    final = (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
        .orderBy("event_type")
    )
    return _materialize(spark, tmp, final, out_schema)


@query(
    "streaming_runs_fidelity",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CASE WHEN value > {_RUNS_THRESHOLD} THEN 1 ELSE 0 END AS above,
             lag(CASE WHEN value > {_RUNS_THRESHOLD} THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_above
      FROM events
      WHERE {_SEQ_FILTER} AND value <> {_RUNS_THRESHOLD}
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(above) AS BIGINT) AS n_above,
           CAST(count(*) - sum(above) AS BIGINT) AS n_below,
           CAST(sum(CASE WHEN prev_above IS NULL OR prev_above <> above
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
           floor((1.0 + (2.0 * sum(above) * (count(*) - sum(above))) / count(*))
                 * 1e6 + 0.5) / 1e6 AS expected_runs
    FROM s GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_runs_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL order-sensitive streaming runs monitor
    (streaming/sequential.runs_stream: per-key last-sign state crossing
    micro-batch boundaries) over an events subset and value-hash-matches
    the final per-type run counts against a windowed SQL recomputation —
    the sequential-state sibling of streaming_moments_fidelity's
    additive-state certification. Threshold-equal values drop, mirroring
    the batch runs test's median-equal rule (relational14)."""
    from ..streaming.sequential import runs_stream

    return _sequential_fidelity(
        spark,
        sf_dir,
        lambda src: runs_stream(src, threshold=_RUNS_THRESHOLD),
        "event_type string, n bigint, n_above bigint, n_below bigint, "
        "n_runs bigint, expected_runs double",
    )


@query(
    "streaming_acf1_fidelity",
    oracle=f"""
    WITH q AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 10000) AS BIGINT) AS qv
      FROM events WHERE {_SEQ_FILTER}
    ),
    p AS (
      SELECT event_type, qv AS tq,
             lag(qv) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS hq
      FROM q
    ),
    base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(hq * tq) AS BIGINT) AS sxy,
             CAST(sum(hq) AS BIGINT) AS sh,
             CAST(sum(tq) AS BIGINT) AS st,
             CAST(sum(hq * hq) AS BIGINT) AS shh,
             CAST(sum(tq * tq) AS BIGINT) AS stt
      FROM p WHERE hq IS NOT NULL GROUP BY 1
    )
    SELECT s.event_type, b.n, s.m AS n_pairs,
           floor((CAST(s.m * s.sxy - s.sh * s.st AS DOUBLE)
                  / sqrt(CAST(s.m * s.shh - s.sh * s.sh AS DOUBLE)
                         * CAST(s.m * s.stt - s.st * s.st AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS r1
    FROM s JOIN base b ON b.event_type = s.event_type
    ORDER BY s.event_type
    """,
)
def streaming_acf1_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming lag-1 autocorrelation monitor
    (streaming/sequential.acf1_stream: quantized co-moment state plus
    the boundary element stitched across batches) and value-hash-matches
    its final per-type correlation against a lag-window SQL
    recomputation over the identical ordered series. The emission's op
    sequence (three exact-int cross terms → double → num/sqrt(da·db) →
    1e-6 fround) is mirrored literally in the oracle, so the comparison
    is bit-exact, not approximate."""
    from ..streaming.sequential import acf1_stream

    return _sequential_fidelity(
        spark,
        sf_dir,
        acf1_stream,
        "event_type string, n bigint, n_pairs bigint, r1 double",
    )


@query(
    "streaming_sliding_window_fidelity",
    oracle="""
    WITH q AS (
      SELECT event_type, epoch(ts) AS es FROM events WHERE ts IS NOT NULL
    ),
    w AS (
      SELECT event_type,
             unnest([CAST(floor(es / 1800) AS BIGINT) * 1800 - 1800,
                     CAST(floor(es / 1800) AS BIGINT) * 1800]) AS ws
      FROM q
    )
    SELECT make_timestamp(ws * 1000000) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def streaming_sliding_window_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL watermarked sliding-window aggregation
    (streaming/windows.windowed_event_counts: 1-hour windows sliding
    every 30 minutes, so each event lands in exactly two windows) as a
    Structured Streaming query over the events table and value-hash-
    matches the FINAL per-(window, type) counts against a DuckDB
    recomputation that derives both window starts arithmetically from
    the epoch grid. Update-mode emissions are monotone counts, so the
    final state per group is max(n). This upgrades the windowed-
    aggregation family from golden-only to hash-certified streaming
    execution (the moments/sessionize/runs/acf1 recipe applied to the
    window operator).

    Watermark semantics under a single ordered batch: the first batch's
    watermark is -∞, so nothing drops — late-data DROP behavior stays
    pinned by the golden suite (tests/test_streaming_windows.py), which
    feeds multi-batch out-of-order input on purpose.
    """
    from ..streaming.windows import windowed_event_counts

    tmp = _fidelity_tmp("slidewin-fidelity-")  # per-run ckpt/sink only
    ev = table(spark, sf_dir, "events").select("event_type", "ts")
    corpus = _cached_corpus(
        ("slidewin", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    stream = windowed_event_counts(
        spark.readStream.schema("event_type string, ts timestamp").parquet(
            f"{corpus}/in"
        ),
        ts_col="ts",
        window="1 hour",
        slide="30 minutes",
        watermark="5 minutes",
        extra_keys=("event_type",),
    )
    final = (
        _run_stream_to_memory(spark, stream, tmp)
        .groupBy("window_start", "event_type")
        .agg(F.max("n").alias("n"))
        .orderBy("window_start", "event_type")
    )
    return _materialize(
        spark, tmp, final, "window_start timestamp, event_type string, n bigint"
    )


def _cached_corpus(key: tuple, build, tables: tuple = ("events",)) -> str:
    """Return the session-cached corpus dir for ``key = (name, sf_dir)``,
    invoking ``build(dir)`` to materialize it on first use (r11, VERDICT
    r10 directive #6).

    Every fidelity corpus is a pure function of (recipe, sf_dir), yet
    each query invocation re-synthesized and re-wrote it — and the
    bench's warm-up + min-of-2 protocol builds each corpus 3× per query,
    the three outer-join variants share ONE corpus, and the whole
    order-sensitive monitor family shares another. The dir lives under
    the session base until exit; consumers take a SEPARATE per-run
    ``_fidelity_tmp`` for checkpoint/sink state, which ``_materialize``
    still deletes eagerly — a checkpoint must never be reused across runs
    (its offsets reference corpus file paths and a resume would process
    nothing), while the corpus MUST be byte-identical across runs (it is:
    same deterministic plan, written once). Callers must NOT mutate or
    delete the returned dir.

    ``tables`` names the source tables under ``sf_dir`` the corpus
    derives from (most derive from ``events``; the MinHash and CMS
    corpora derive from ``documents`` and MUST say so, ADVICE r12 #1).
    Their file provenance (path, mtime_ns, size per data file,
    ``core.source_provenance``) is the memo version: an in-place rewrite
    of any source parquet under the same path rebuilds the corpus
    (VERDICT r11, What's wrong #4)."""
    from .core import source_provenance

    def write() -> str:
        d = _fidelity_tmp(f"corpus-{key[0]}-")
        build(d)
        return d

    return memo(("corpus", *key, tables), source_provenance(key[1], *tables), write)


def _bump_new_file_mtimes(path: str, before: set[str], gap_s: int = 60) -> None:
    """Push every file under ``path`` NOT in ``before`` ``gap_s`` seconds
    past the newest pre-existing file. The streaming file source orders
    pending files oldest-first (latestFirst=false), so this turns
    "sentinel file sorts after the corpus" from a bet on write-job
    wall-clock spacing into a guarantee."""
    import glob as _g
    import os as _os

    files = [
        f
        for f in _g.glob(_os.path.join(path, "part-*"))
        if not f.endswith(".crc")
    ]
    olds = [f for f in files if f in before]
    news = [f for f in files if f not in before]
    base = max((_os.path.getmtime(f) for f in olds), default=None)
    if base is None:
        return
    for f in news:
        _os.utime(f, (base + gap_s, base + gap_s))


def _snapshot_files(path: str) -> set[str]:
    import glob as _g
    import os as _os

    return {
        f
        for f in _g.glob(_os.path.join(path, "part-*"))
        if not f.endswith(".crc")
    }


def _logpipe_stream_corpus(spark, sf_dir: str):
    """The logpipe_open_close_join corpus (initial at ts, MemoryTracker
    close at ts + event_id%7 s for event_id%3≠0), written as text files
    for the streaming file source. Shared by the stream-stream join and
    streaming-dedup fidelity queries. Session-cached per sf_dir (r11):
    callers must NOT mutate or delete the returned dir — per-run state
    belongs in a separate _fidelity_tmp."""
    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    qid = F.concat(F.lit("q-"), F.col("event_id").cast("string"))
    dt0 = F.date_format("ts", "yyyy.MM.dd HH:mm:ss.SSSSSS")
    dt_end = F.date_format(
        F.col("ts") + F.make_interval(secs=(F.col("event_id") % 7).cast("double")),
        "yyyy.MM.dd HH:mm:ss.SSSSSS",
    )
    pid = (F.col("event_id") % 997).cast("string")
    initial = F.concat(
        dt0, F.lit(" [ "), pid, F.lit(" ] {"), qid,
        F.lit("} <Debug> executeQuery: (from 10.0.0.7:9000) SELECT 1"),
    )
    memory = F.when(
        F.col("event_id") % 3 != 0,
        F.concat(dt_end, F.lit(" [ "), pid, F.lit(" ] {"), qid,
                 F.lit("} <Debug> MemoryTracker: Peak memory usage (for query): 1.00 MiB.")),
    )
    log = (
        e.select(F.explode(F.array(initial, memory)).alias("value"))
        .filter(F.col("value").isNotNull())
    )
    return _cached_corpus(
        ("logpipe", sf_dir),
        lambda d: log.coalesce(1).write.mode("overwrite").text(f"{d}/logs"),
    )


@query(
    "streaming_interval_join_fidelity",
    oracle="""
    SELECT 'q-' || CAST(event_id AS VARCHAR) AS id,
           ts                                AS start_time,
           ts + INTERVAL 1 SECOND * (event_id % 7) AS end_time,
           CAST(event_id % 7 AS DOUBLE)      AS elapsed
    FROM events
    WHERE value IS NOT NULL AND value >= 0
      AND event_id % 3 <> 0 AND event_id % 7 <= 5
    """,
)
def streaming_interval_join_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL stream-stream interval join
    (streaming/joins.join_initial_to_close: both sides watermarked,
    time-bound state eviction) as a Structured Streaming query over a
    synthesized log corpus and value-hash-matches the matched pairs
    against DuckDB arithmetic — upgrading the stream-stream-join family
    from golden-only (batch-twin-oracled) to hash-certified STREAMING
    execution. Same corpus and oracle as the batch twin
    `logpipe_open_close_join`, so any divergence isolates the streaming
    state machinery itself."""
    from ..operators.parsing import parse_log_lines
    from ..streaming.joins import join_initial_to_close

    corpus = _logpipe_stream_corpus(spark, sf_dir)  # session-cached
    tmp = _fidelity_tmp("ivjoin-fidelity-")  # per-run ckpt/sink only
    raw = spark.readStream.format("text").load(f"{corpus}/logs")
    joined = join_initial_to_close(parse_log_lines(raw), max_duration="5 seconds")
    out = _run_stream_to_memory(
        spark,
        joined.select("id", "start_time", "end_time", "elapsed"),
        tmp,
        mode="append",
    ).orderBy("id")
    return _materialize(
        spark,
        tmp,
        out,
        "id string, start_time timestamp, end_time timestamp, elapsed double",
    )


@query(
    "streaming_dedup_fidelity",
    oracle="""
    SELECT 'q-' || CAST(event_id AS VARCHAR) AS id,
           ts AS start_time
    FROM events
    WHERE value IS NOT NULL AND value >= 0
    """,
)
def streaming_dedup_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming dedup
    (streaming/joins.dedup_initial_stream —
    dropDuplicatesWithinWatermark, watermark-bounded state) over a
    corpus where EVERY query id's initial line appears twice (the
    reference's duplicated_initial_query scenario, query.go:91-95) and
    value-hash-matches the surviving set: exactly one row per id
    carrying the shared (id, ts) identity. WHICH duplicate survives is
    engine order within the batch — deliberately not asserted here
    (pid is excluded from the output); the reference's first-valid-wins
    ordering is the SESSIONIZER's contract and is golden-tested there
    (tests/test_streaming.py)."""
    from ..operators.parsing import parse_log_lines
    from ..streaming.joins import dedup_initial_stream

    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    qid = F.concat(F.lit("q-"), F.col("event_id").cast("string"))
    dt0 = F.date_format("ts", "yyyy.MM.dd HH:mm:ss.SSSSSS")
    pid = (F.col("event_id") % 997).cast("string")

    def line(p):
        return F.concat(
            dt0, F.lit(" [ "), p, F.lit(" ] {"), qid,
            F.lit("} <Debug> executeQuery: (from 10.0.0.7:9000) SELECT 1"),
        )

    log = e.select(
        F.explode(F.array(line(pid), line(F.lit("1")))).alias("value")
    )
    corpus = _cached_corpus(
        ("dedup", sf_dir),
        lambda d: log.coalesce(1).write.mode("overwrite").text(f"{d}/logs"),
    )
    tmp = _fidelity_tmp("dedup-fidelity-")  # per-run ckpt/sink only
    raw = spark.readStream.format("text").load(f"{corpus}/logs")
    deduped = dedup_initial_stream(parse_log_lines(raw))
    out = _run_stream_to_memory(
        spark,
        deduped.select("id", F.col("ts").alias("start_time")),
        tmp,
        mode="append",
    )
    return _materialize(spark, tmp, out, "id string, start_time timestamp")


_CHUNK_SIZE, _CHUNK_STRIDE = 120, 90


@query(
    "text_chunk_sliding_windows",
    oracle=f"""
    WITH nums AS (SELECT t.i FROM range(0, 1024) t(i))
    SELECT d.doc_id, CAST(n.i AS INT) AS chunk_idx,
           CAST(least({_CHUNK_SIZE}, length(d.text) - n.i * {_CHUNK_STRIDE}) AS BIGINT)
             AS chunk_len,
           CAST(CAST(('0x' || substr(md5(substr(d.text, CAST(n.i * {_CHUNK_STRIDE} + 1 AS INT),
                                           {_CHUNK_SIZE})), 1, 12)) AS UBIGINT) AS BIGINT)
             AS chunk_hash
    FROM documents d
    JOIN nums n ON n.i <= greatest((length(d.text) - 1) // {_CHUNK_STRIDE}, 0)
    WHERE d.text IS NOT NULL
    """,
)
def text_chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the RAG / long-context
    training primitive: 120-character chunks at stride 90 (30-char
    overlap so no boundary sentence is lost), one row per (doc, chunk)
    with a stable content fingerprint (the engine-portable 48-bit md5
    family, workloads/core.md5_long) instead of the chunk text itself —
    hashes certify the exact slice CONTENT while keeping wide text out
    of the result. Chunk count = ⌈n/stride⌉ (⌊(n−1)/stride⌋+1), so
    trailing chunks shorten rather than duplicate; empty docs emit one
    zero-length chunk. Character (not byte) indexing on both engines —
    multibyte zh text is the trap this oracle would catch.

    100 TB: pure scan-stage sequence+explode (row inflation = n/stride,
    the operator's output size — nothing shuffles until a consumer
    groups); the downstream dedup/embedding stages join on chunk_hash,
    8 bytes per chunk.
    """
    from .core import md5_long

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    n = F.length("text")
    # Fail-loud at the oracle's numbers-table bound (1024 chunks/doc ≈
    # 92k chars at stride 90): a longer document must raise, not let the
    # SQL side silently drop its tail chunks (no-silent-caps rule). The
    # raise_error feeds the sequence bound so column pruning can't
    # optimize the check away.
    bound = F.when(
        n > _CHUNK_STRIDE * 1024,
        F.raise_error(
            F.concat(
                F.lit("text_chunk_sliding_windows: document "),
                F.col("doc_id").cast("string"),
                F.lit(" exceeds the 1024-chunk oracle bound; raise the "
                      "nums range in the oracle and this guard together"),
            )
        ).cast("int"),
    ).otherwise(
        F.greatest(F.floor((n - 1) / _CHUNK_STRIDE).cast("int"), F.lit(0))
    )
    base = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), bound)).alias("i"),
    )
    start = F.col("i") * _CHUNK_STRIDE
    chunk = F.substring(F.col("text"), start + 1, F.lit(_CHUNK_SIZE))
    return base.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK_SIZE), F.length("text") - start)
        .cast("bigint")
        .alias("chunk_len"),
        md5_long(chunk).alias("chunk_hash"),
    )


_CUSUM_KREF, _CUSUM_THRESHOLD = 15, 50


@query(
    "streaming_cusum_fidelity",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT event_type, max(day) AS last_day FROM daily GROUP BY 1),
    seq AS (
      SELECT event_type, day, n,
             sum(n - {_CUSUM_KREF}) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM daily
    ),
    s AS (
      SELECT event_type, day, n, p,
             p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
      FROM seq
    )
    SELECT s.event_type, CAST(s.day AS VARCHAR) AS day, s.n,
           CAST(s.cusum AS BIGINT) AS cusum,
           s.cusum > {_CUSUM_THRESHOLD} AS alarm
    FROM s JOIN mx ON mx.event_type = s.event_type AND s.day < mx.last_day
    ORDER BY s.event_type, s.day
    """,
)
def streaming_cusum_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming per-key CUSUM monitor (streaming/cusum.py:
    day-close recurrence S_t = max(0, S_{t−1} + c_t − kref) held as three
    integers of applyInPandasWithState state) over the events table and
    value-hash-matches every CLOSED day's emitted row against the
    prefix-sum closed form S_t = P_t − min(0, min_{j≤t} P_j) in SQL —
    the identity the batch twin (events_cusum_per_key) is certified by,
    now certifying the STREAMING recurrence execution too. Each key's
    final day never closes (no later day arrives), so the oracle
    excludes max(day) per key. Days are emitted as strings (the DATE
    dtype crosses engines as the only non-hashable, per the house rule).
    """
    from ..streaming.cusum import cusum_stream

    tmp = _fidelity_tmp("cusum-fidelity-")  # per-run ckpt/sink only
    ev = table(spark, sf_dir, "events").select("ts", "event_type", "event_id")
    corpus = _cached_corpus(
        ("cusum", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    stream = cusum_stream(
        spark.readStream.schema(
            "ts timestamp, event_type string, event_id long"
        ).parquet(f"{corpus}/in"),
        kref=_CUSUM_KREF,
        threshold=_CUSUM_THRESHOLD,
    )
    out = (
        _run_stream_to_memory(spark, stream, tmp, mode="append")
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n",
            "cusum",
            "alarm",
        )
        .orderBy("event_type", "day")
    )
    return _materialize(
        spark,
        tmp,
        out,
        "event_type string, day string, n bigint, cusum bigint, alarm boolean",
    )


@query(
    "streaming_attribution_fidelity",
    oracle="""
    WITH tl AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type IN ('click','view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT user_id, ts AS purchase_ts, value,
           coalesce(channel, 'direct') AS channel
    FROM tl WHERE event_type = 'purchase'
    """,
)
def streaming_attribution_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming last-touch attribution
    (streaming/attribution.attribution_stream: one (channel, ts) pair of
    applyInPandasWithState state per user) over the events table and
    value-hash-matches EVERY emitted purchase row — user, timestamp,
    value, attributed channel — against the batch IGNORE-NULLS window
    oracle. Row-level (not just the per-channel rollup the golden parity
    test compares), so a single mis-attributed purchase anywhere in the
    corpus fails the hash."""
    from ..streaming.attribution import attribution_stream

    tmp = _fidelity_tmp("attr-fidelity-")  # per-run ckpt/sink only
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id", "value"
    )
    corpus = _cached_corpus(
        ("attr", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    stream = attribution_stream(
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_type string, "
            "event_id bigint, value double"
        ).parquet(f"{corpus}/in")
    )
    out = _run_stream_to_memory(spark, stream, tmp, mode="append")
    return _materialize(
        spark,
        tmp,
        out,
        "user_id bigint, purchase_ts timestamp, value double, channel string",
    )


@query(
    "streaming_bitmap_distinct_fidelity",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_bitmap_distinct_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL exactly-once bitmap distinct-count sink
    (streaming/bitmap_distinct: foreachBatch OR-merge into versioned
    parquet state via streaming/merge_state) over the events stream and
    value-hash-matches the final per-type counts against exact SQL
    COUNT(DISTINCT) — zero-error sketches, so the oracle is equality,
    not an error bound. Covers the full sink path: bitmap_bucket
    aggregation, versioned-state merge, dynamic-partition counts
    snapshot."""
    from ..streaming.bitmap_distinct import start_bitmap_distinct

    tmp = _fidelity_tmp("bitmap-fidelity-")  # per-run state/ckpt/out only
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    corpus = _cached_corpus(
        ("bitmap", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    q = start_bitmap_distinct(
        spark.readStream.schema(
            "user_id bigint, event_type string, ts timestamp"
        ).parquet(f"{corpus}/in"),
        state_dir=f"{tmp}/state",
        out_dir=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(f"{tmp}/out")
    last = out.filter(
        F.col("batch_id") == out.agg(F.max("batch_id")).collect()[0][0]
    )
    final = last.select("event_type", "distinct_users").orderBy("event_type")
    return _materialize(
        spark, tmp, final, "event_type string, distinct_users bigint"
    )


@query(
    "streaming_medallion_fidelity",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, value AS last_value
    FROM changes WHERE rn = 1 AND op <> 'D'
    """,
)
def streaming_medallion_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL medallion CDC pipeline (streaming/medallion.py:
    exactly-once epoch-partitioned bronze + latest-wins silver recompute
    inside foreachBatch) over a change stream derived from events —
    errors are delete tombstones, everything else upserts — and
    value-hash-matches the FINAL silver snapshot against the latest-wins
    SQL rule: newest change per user by (ts, event_id) wins, a winning
    tombstone removes the user, and an OLDER upsert must never
    resurrect a deleted key. Certifies the streaming composition
    (bronze write → full-bronze reread → rank-filter → atomic silver
    overwrite), not just the batch rule its twin
    (`cdc_apply_latest_changes`) already certifies."""
    from ..streaming.medallion import MedallionPipeline

    tmp = _fidelity_tmp("medallion-fidelity-")
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    corpus = _cached_corpus(
        ("medallion", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    pipe = MedallionPipeline(
        bronze_path=f"{tmp}/bronze",
        silver_path=f"{tmp}/silver",
        key="user_id",
        seq_cols=["ts", "event_id"],
    )
    q = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, value double, op string"
        )
        .parquet(f"{corpus}/in")
        .writeStream.outputMode("append")
        .foreachBatch(pipe.foreach_batch())
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = pipe.snapshot(spark).select(
        "user_id", F.col("ts").alias("last_ts"), F.col("value").alias("last_value")
    )
    return _materialize(
        spark, tmp, final, "user_id bigint, last_ts timestamp, last_value double"
    )


@query(
    "streaming_funnel_fidelity",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.v_ts
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.c_ts
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT v.user_id, v.v_ts AS view_ts, c.c_ts AS click_ts,
           p.p_ts AS purchase_ts,
           CAST(epoch_us(p.p_ts) - epoch_us(v.v_ts) AS DOUBLE) / 3600000000.0
             AS hours_to_convert
    FROM p JOIN c ON c.user_id = p.user_id JOIN v ON v.user_id = p.user_id
    """,
)
def streaming_funnel_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming ordered-funnel monitor
    (streaming/funnel.funnel_stream: three timestamps of
    applyInPandasWithState state per in-flight user, retire-on-complete)
    over the events table and value-hash-matches every completion row
    against the conditional-min SQL anchors: earliest view, earliest
    click STRICTLY after it, earliest purchase strictly after that.
    Strict inequalities make the result independent of equal-timestamp
    fold order, so the streaming fold and the set-based SQL must agree
    exactly — including the raw (unrounded) hours_to_convert double,
    which both sides derive from the identical µs-integer difference."""
    from ..streaming.funnel import funnel_stream

    tmp = _fidelity_tmp("funnel-fidelity-")  # per-run ckpt/sink only
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    corpus = _cached_corpus(
        ("funnel", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    stream = funnel_stream(
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_type string"
        ).parquet(f"{corpus}/in")
    )
    out = _run_stream_to_memory(spark, stream, tmp, mode="append")
    return _materialize(
        spark,
        tmp,
        out,
        "user_id bigint, view_ts timestamp, click_ts timestamp, "
        "purchase_ts timestamp, hours_to_convert double",
    )


@query(
    "streaming_minhash_fidelity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    post AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 2 + 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks
    ),
    hashed AS (
      SELECT source, p.perm AS perm,
             CAST(('0x' || substr(md5(g || '#' || CAST(p.perm AS VARCHAR)), 1, 12))
                  AS UBIGINT) AS h
      FROM post, range(8) p(perm)
    )
    SELECT source, CAST(perm AS INT) AS perm,
           CAST(min(h) AS BIGINT) AS sig
    FROM hashed GROUP BY source, perm ORDER BY source, perm
    """,
)
def streaming_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming MinHash-signature sink
    (streaming/minhash_sink: shingle → md5-family hash → per-(source,
    perm) minima MIN-merged into versioned idempotent state via
    streaming/merge_state) over the documents stream and value-hash-
    matches the FINAL landed state against DuckDB's recomputation of
    the identical signature family — the mergeability property (final
    streamed state == batch signature of everything seen) certified by
    hash, not just the stream==batch parity golden. Exercises the full
    versioned-state path including the r4 checkpoint-mismatch guard."""
    from ..streaming.minhash_sink import start_minhash_signatures

    tmp = _fidelity_tmp("minhash-fidelity-")  # per-run state/ckpt only
    d = table(spark, sf_dir, "documents").select("source", "text")
    corpus = _cached_corpus(
        ("minhash", sf_dir),
        lambda p: d.write.mode("overwrite").parquet(f"{p}/in"),
        tables=("documents",),
    )
    q = start_minhash_signatures(
        spark.readStream.schema("source string, text string").parquet(
            f"{corpus}/in"
        ),
        state_dir=f"{tmp}/state",
        checkpoint=f"{tmp}/ckpt",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import glob as _glob

    versions = sorted(
        int(p.rsplit("/v", 1)[1])
        for p in _glob.glob(f"{tmp}/state/v*")
    )
    final = (
        spark.read.parquet(f"{tmp}/state/v{versions[-1]}")
        .select("source", F.col("perm").cast("int").alias("perm"), "sig")
        .orderBy("source", "perm")
    )
    return _materialize(spark, tmp, final, "source string, perm int, sig bigint")


_MG_K = 8


@query(
    "streaming_heavyhitters_fidelity",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_seen,
           true AS bounds_ok, true AS heavy_present
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_heavyhitters_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming Misra-Gries heavy-hitters monitor
    (streaming/heavyhitters.py: k-counter summary per event_type as
    applyInPandasWithState state) over the events table and certifies
    the DETERMINISTIC MG guarantees as literal booleans — the
    error-bound-oracle pattern `agg_approx_distinct` established for
    sketches whose exact content is fold-order-dependent:
    `bounds_ok` ⟺ every summary entry satisfies e(x) ≤ f(x) and
    k·(f(x) − e(x)) ≤ n (integer cross-multiply, no division);
    `heavy_present` ⟺ every user with k·f(x) > n is in the summary (no
    false negatives above n/k — the property that makes MG usable as a
    pre-filter). n_seen is compared exactly. All comparisons are
    integer, so the booleans are deterministic TRUE, never flaky."""
    from ..streaming.heavyhitters import heavy_hitters_stream

    tmp = _fidelity_tmp("hh-fidelity-")  # per-run ckpt/sink only
    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "user_id"
    )
    # Corpus cache is SAFE here despite MG's fold-order-dependent
    # summary contents: the certified output carries only the exact
    # n_seen and the bounds/heavy booleans the MG invariants guarantee
    # TRUE for ANY fold order — summary membership never reaches the
    # output columns (that is the whole point of the bound-certificate
    # pattern this query documents).
    corpus = _cached_corpus(
        ("hh", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    stream = heavy_hitters_stream(
        spark.readStream.schema(
            "event_type string, ts timestamp, event_id bigint, user_id bigint"
        ).parquet(f"{corpus}/in"),
        k=_MG_K,
    )
    out = _run_stream_to_memory(spark, stream, tmp)
    w = Window.partitionBy("event_type")
    summary = (
        out.withColumn("mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("mx"))
        .select("event_type", "user_id", "est_count", "n_seen")
    )
    exact = spark.read.parquet(f"{corpus}/in").groupBy(
        "event_type", "user_id"
    ).agg(F.count(F.lit(1)).alias("f"))
    joined = summary.join(exact, ["event_type", "user_id"], "left").select(
        "event_type",
        "n_seen",
        (
            (F.col("est_count") <= F.coalesce(F.col("f"), F.lit(0)))
            & (
                F.lit(_MG_K)
                * (F.coalesce(F.col("f"), F.lit(0)) - F.col("est_count"))
                <= F.col("n_seen")
            )
        ).alias("row_ok"),
    )
    bounds = joined.groupBy("event_type").agg(
        F.max("n_seen").alias("n_seen"),
        F.min(F.col("row_ok").cast("int")).cast("boolean").alias("bounds_ok"),
    )
    heavy = (
        exact.join(
            summary.select(
                "event_type", F.col("user_id").alias("su"), "n_seen"
            ).distinct(),
            "event_type",
        )
        .filter(F.lit(_MG_K) * F.col("f") > F.col("n_seen"))
        .groupBy("event_type", "user_id", "f")
        .agg(F.max((F.col("su") == F.col("user_id")).cast("int")).alias("present"))
        .groupBy("event_type")
        .agg(F.min("present").cast("boolean").alias("heavy_present"))
    )
    final = (
        bounds.join(heavy, "event_type", "left")
        .select(
            "event_type",
            "n_seen",
            "bounds_ok",
            F.coalesce(F.col("heavy_present"), F.lit(True)).alias("heavy_present"),
        )
        .orderBy("event_type")
    )
    return _materialize(
        spark,
        tmp,
        final,
        "event_type string, n_seen bigint, bounds_ok boolean, heavy_present boolean",
    )


@query(
    "corpus_datacard_report",
    oracle="""
    WITH base AS (
      SELECT source, lang, n_chars,
             CAST(('0x' || substr(md5(text), 1, 12)) AS UBIGINT) AS digest
      FROM documents
    ),
    per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT digest) AS BIGINT) AS n_unique
      FROM base GROUP BY source
    ),
    med AS (
      SELECT source, CAST(min(n_chars) AS BIGINT) AS p50_chars
      FROM (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM base
      ) WHERE rn = (n + 1) // 2
      GROUP BY source
    )
    SELECT p.source, p.n_docs, p.total_chars, p.n_langs,
           floor((CAST(p.total_chars AS DOUBLE) / p.n_docs) * 1e4 + 0.5) / 1e4
             AS mean_chars,
           m.p50_chars,
           floor((1.0 - CAST(p.n_unique AS DOUBLE) / p.n_docs) * 1e6 + 0.5) / 1e6
             AS dup_rate
    FROM per p JOIN med m ON m.source = p.source
    ORDER BY p.source
    """,
)
def corpus_datacard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus DATACARD — the one-stop summary every training
    dataset publishes: volume (docs, characters), language breadth,
    central tendency of length (exact lower-median by rank arithmetic +
    frounded mean), and the exact-duplicate rate from content digests
    (the md5 family, so both engines see identical duplicate sets).
    Composes the engine's certified primitives — grouped aggregates,
    distinct counts, partitioned rank windows, portable hashing — into
    the report a user runs first on any new corpus.

    Scale shape: ONE corpus scan folds all per-source moments map-side
    (digest computed in the scan stage, 8 bytes into the shuffle); the
    median windows over per-source partitions; output is
    |sources|-cardinality. The exact COUNT(DISTINCT digest) re-keys by
    (source, digest) — the documented cost of exactness; swap for the
    HLL sketch lane (sketch_hll_distinct_users pattern) when sources
    are huge and ±2% is acceptable."""
    from .core import md5_long

    d = table(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars", md5_long(F.col("text")).alias("digest")
    )
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("digest").alias("n_unique"),
    )
    w = Window.partitionBy("source")
    med = (
        d.select(
            "source",
            "n_chars",
            F.row_number().over(w.orderBy("n_chars")).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .groupBy("source")
        .agg(F.min("n_chars").alias("p50_chars"))
    )
    return (
        per.join(med, "source")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_chars").cast("bigint").alias("total_chars"),
            F.col("n_langs").cast("bigint").alias("n_langs"),
            fround(F.col("total_chars").cast("double") / F.col("n_docs"), 4).alias(
                "mean_chars"
            ),
            F.col("p50_chars").cast("bigint").alias("p50_chars"),
            fround(
                F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "image_pair_luma_similarity",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 16 + doc_id % 16 AS w, 8 + (doc_id * 3) % 16 AS h
      FROM documents WHERE doc_id < {_PHASH_DOCS}
    ),
    lum AS (
      SELECT doc_id, x.x, y.y,
             299 * ((7 * ((x.x * w) // 32) + doc_id) % 256)
             + 587 * ((11 * ((y.y * h) // 32) + doc_id) % 256)
             + 114 * ((((x.x * w) // 32) + ((y.y * h) // 32)) % 256) AS l
      FROM d, range(32) x(x), range(32) y(y)
    ),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.l) AS BIGINT) AS sa, CAST(sum(b.l) AS BIGINT) AS sb,
             CAST(sum(a.l * a.l) AS BIGINT) AS saa,
             CAST(sum(b.l * b.l) AS BIGINT) AS sbb,
             CAST(sum(a.l * b.l) AS BIGINT) AS sab,
             CAST(sum(abs(a.l - b.l)) AS BIGINT) AS sd
      FROM lum a JOIN lum b
        ON b.doc_id = a.doc_id + 1 AND b.x = a.x AND b.y = a.y
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           floor((CAST(1024 * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(1024 * saa - sa * sa AS DOUBLE)
                         * CAST(1024 * sbb - sb * sb AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS luma_corr,
           floor((CAST(sd AS DOUBLE) / 1024) * 1e4 + 0.5) / 1e4 AS mad
    FROM m ORDER BY doc_a
    """,
)
def image_pair_luma_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise image similarity in the PIXEL domain — the exact-moment
    complement to the hash-domain members (aHash Hamming, DCT pHash):
    for consecutive image pairs, Pearson correlation and mean absolute
    difference of the alignment-normalized 32×32 integer luma grids
    (operators/multimodal.luma_grid32 over REAL decoded BMPs). All five
    co-moments and the L1 sum fold as exact int64 (|Σl·l| ≤ 6.9e16),
    then the acf1 emission discipline — each cross term converted to
    double ONCE, num/sqrt(da·db), 1e-6 fround — so the oracle's SQL
    lands on identical bits from the pixel closed form.

    100 TB: decode+resample is scan-stage; the pair join carries the
    8 KB grid (features, never blobs — the wide-row rule); the
    per-pair reduction is one numpy pass. For all-pairs similarity at
    scale, band first on pHash (hash-domain) and run this exact kernel
    only on candidates — the verify-join pattern every dedup family
    here uses.
    """
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import luma_grid32, synth_bmp

    d = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _PHASH_DOCS
    )
    # checkpoint-once: both join sides read the SAME decoded grids, so
    # the decode kernel runs once, not per side.
    grids = luma_grid32(synth_bmp(d, "doc_id")).localCheckpoint(eager=False)
    a = grids.select(F.col("doc_id").alias("doc_a"), F.col("luma").alias("la"))
    b = grids.select(F.col("doc_id").alias("doc_b"), F.col("luma").alias("lb"))
    pairs = a.join(b, F.col("doc_b") == F.col("doc_a") + 1)

    def gen(batches):
        for pdf in batches:
            rows = []
            for da_, db_, la, lb in zip(
                pdf["doc_a"], pdf["doc_b"], pdf["la"], pdf["lb"]
            ):
                x = np.asarray(la, dtype=np.int64)
                y = np.asarray(lb, dtype=np.int64)
                n = len(x)
                sa, sb = int(x.sum()), int(y.sum())
                saa, sbb = int((x * x).sum()), int((y * y).sum())
                sab = int((x * y).sum())
                sd = int(np.abs(x - y).sum())
                num = float(n * sab - sa * sb)
                da = float(n * saa - sa * sa)
                db = float(n * sbb - sb * sb)
                corr = (
                    None
                    if da <= 0 or db <= 0
                    else np.floor(num / (da * db) ** 0.5 * 1e6 + 0.5) / 1e6
                )
                mad = np.floor((float(sd) / n) * 1e4 + 0.5) / 1e4
                rows.append((int(da_), int(db_), corr, mad))
            yield pd.DataFrame(
                rows, columns=["doc_a", "doc_b", "luma_corr", "mad"]
            )

    return pairs.mapInPandas(
        gen, "doc_a bigint, doc_b bigint, luma_corr double, mad double"
    ).orderBy("doc_a")


@query(
    "join_salted_user_enrich",
    oracle="""
    WITH totals AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN value IS NOT NULL
                      THEN CAST(floor(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(t.n_events) AS BIGINT) AS sum_user_events,
           CAST(sum(t.cents) AS BIGINT) AS sum_user_cents
    FROM events e JOIN totals t ON t.user_id = e.user_id
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def join_salted_user_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED fact⋈dim join (operators/skewjoin.salted_equi_join) —
    the manual skew mitigation the SCALE notes name but no operator
    demonstrated until now: events enriched with per-user totals where
    the join is FORCED onto the shuffle path (merge hint — standing in
    for the 100 TB regime where the dim outgrows broadcast) and the
    user_id key is salted 8 ways by event_id. The oracle is the PLAIN
    unsalted SQL join: salting must be invisible in the result — every
    probe row meets its key's build row exactly once — which the value
    hash proves. Quantized-cents sums keep the enrichment exact.

    Plan shape: probe carries a 4-byte salt; build replicates ×8 via
    explode(sequence) — replication cost S·|dim|, paid only when a hot
    key exceeds a partition. tests/test_plan_shapes guards that the
    hint actually lands on SortMergeJoin (a silently-broadcast demo
    would prove nothing).
    """
    from ..operators.skewjoin import salted_equi_join

    e = table(spark, sf_dir, "events").localCheckpoint(eager=False)
    totals = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(
                F.col("value").isNotNull(),
                F.floor(F.col("value") * 100).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("cents"),
    )
    enriched = salted_equi_join(
        e.select("user_id", "event_type", F.col("event_id")),
        totals.hint("merge"),
        key="user_id",
        salt_src=F.col("event_id"),
        n_salts=8,
    )
    return (
        enriched.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_events").alias("sum_user_events"),
            F.sum("cents").alias("sum_user_cents"),
        )
        .orderBy("event_type")
    )
