"""LLM-data battery, round 3 batch 22: interarrival burstiness and
collocation mining.

The interarrival CV is the Poisson-ness check on event streams: for a
memoryless arrival process the gap distribution's coefficient of
variation is 1 — CV ≫ 1 means bursts (retry storms, bot traffic),
CV ≪ 1 means scheduling. Collocation lift mines the bigrams that
co-occur far beyond chance — the PMI use case WITHOUT PMI's log:
lift = N·c(ab)/(c(a)·c(b)) is a monotone transform of PMI, so the
ranking is identical while every compared quantity stays an exact
integer ratio (the libm-free discipline of text_zipf_topranks).

Float discipline per workloads/core.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import fround, query, table


@query(
    "events_interarrival_cv",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    gaps AS (
      SELECT event_type, (us - prev_us) AS g
      FROM seq WHERE prev_us IS NOT NULL
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(g AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
                  AS DOUBLE) AS ss
      FROM gaps GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(floor(floor(s / n) / 1000000) AS BIGINT) AS mean_gap_sec,
           floor((sqrt(greatest(0.0, (ss / n) - ((s / n) * (s / n))))
                  / (s / n))
                 * 1e6 + 0.5) / 1e6 AS cv
    FROM m ORDER BY event_type
    """,
)
def events_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interarrival burstiness per event type: the coefficient of
    variation of the gap distribution — exactly 1 for a Poisson
    (memoryless) process, ≫ 1 for bursty arrivals (retry storms,
    bots), ≪ 1 for scheduled traffic. Gaps are exact integer
    microseconds off ONE per-type ordered window; moments ride
    DECIMAL(38); the CV is one shared float expression, frounded.
    This is the arrival-PROCESS check next to the arrival-COUNT
    monitors (CUSUM watches rates; CV watches texture).

    Scale: one shuffle on event_type, shared by the lag window and
    the moment aggregate; per-type output rows.
    """
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", us.alias("us"), F.lag(us).over(w).alias("prev_us")
    )
    gaps = seq.filter(F.col("prev_us").isNotNull()).select(
        "event_type", (F.col("us") - F.col("prev_us")).alias("g")
    )
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("g").cast("decimal(38,0)")).cast("double").alias("s"),
        # square in DECIMAL: gaps are ~1e12 us, so g*g overflows BIGINT
        F.sum(F.col("g").cast("decimal(19,0)") * F.col("g").cast("decimal(19,0)"))
        .cast("double")
        .alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    mean = s / n
    return m.select(
        "event_type",
        "n",
        F.floor(F.floor(s / n) / 1000000).cast("bigint").alias("mean_gap_sec"),
        # greatest(0, var): cancellation can leave an analytically-zero
        # variance a negative ulp — DuckDB's sqrt ERRORS on it, Spark NaNs
        fround(
            F.sqrt(F.greatest(F.lit(0.0), (ss / n) - (mean * mean))) / mean, 6
        ).alias("cv"),
    ).orderBy("event_type")


@query(
    "text_collocations_lift",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS ord
      FROM toks
    ),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok WHERE w <> '' GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bg AS (
      SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS b
      FROM tok
    ),
    big AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS cab
      FROM bg WHERE a <> '' AND b <> '' AND b IS NOT NULL
      GROUP BY a, b HAVING count(*) >= 5
    ),
    scored AS (
      SELECT big.a, big.b, big.cab, ua.c AS ca, ub.c AS cb,
             CAST(floor((CAST(t.n AS DOUBLE) * CAST(big.cab AS DOUBLE))
                        / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))
                        * 1e6) AS BIGINT) AS qlift
      FROM big
      JOIN uni ua ON ua.w = big.a
      JOIN uni ub ON ub.w = big.b
      CROSS JOIN tot t
    )
    SELECT a || ' ' || b AS bigram, cab AS n_cooc, ca AS n_a, cb AS n_b,
           CAST(qlift AS DOUBLE) / 1e6 AS lift
    FROM scored
    ORDER BY qlift DESC, bigram LIMIT 20
    """,
)
def text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by LIFT — the PMI ranking without PMI's log:
    lift(a,b) = N·c(ab)/(c(a)·c(b)) is a monotone transform of
    pointwise mutual information, so the top-20 under (quantized lift,
    bigram) is exactly PMI's top-20 while every compared value derives
    from exact integer counts (min co-occurrence 5 applies the
    standard PMI low-count guard). The basket_pair_lift analog for
    TEXT, at token adjacency instead of order membership.

    Scale: one unigram aggregate, one adjacency-window bigram
    aggregate (both map-side combinable), margins joined at
    vocabulary size, TakeOrdered top-20.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("ord", "w"),
    )
    uni = (
        tok.filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # vocabulary-sized; total + two margins
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    wb = Window.partitionBy("doc_id").orderBy("ord")
    bg = tok.select(
        "doc_id", F.col("w").alias("a"), F.lead("w").over(wb).alias("b")
    )
    big = (
        bg.filter((F.col("a") != "") & F.col("b").isNotNull() & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    ua = uni.select(F.col("w").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("c").alias("cb"))
    qlift = F.floor(
        (F.col("n").cast("double") * F.col("cab").cast("double"))
        / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        * 1e6
    ).cast("bigint")
    return (
        big.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("cab").alias("n_cooc"),
            F.col("ca").alias("n_a"),
            F.col("cb").alias("n_b"),
            qlift.alias("qlift"),
        )
        .orderBy(F.desc("qlift"), "bigram")
        .limit(20)
        .select(
            "bigram",
            "n_cooc",
            "n_a",
            "n_b",
            (F.col("qlift").cast("double") / 1e6).alias("lift"),
        )
    )


@query(
    "streaming_moments_fidelity",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(floor(value * 10000) AS BIGINT) AS qv
      FROM events
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qv) AS BIGINT) AS s,
             CAST(sum(qv * qv) AS BIGINT) AS ss
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           floor(((CAST(s AS DOUBLE) / 10000) / n) * 1e6 + 0.5) / 1e6 AS mean,
           floor(sqrt(greatest(0.0,
                 (CAST(ss AS DOUBLE) / 1e8) / n
                 - ((CAST(s AS DOUBLE) / 10000) / n)
                   * ((CAST(s AS DOUBLE) / 10000) / n))) * 1e6 + 0.5) / 1e6
             AS std
    FROM m ORDER BY event_type
    """,
)
def streaming_moments_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL Structured Streaming moments monitor
    (streaming/moments.py: file source → applyInPandasWithState
    quantized-moment state → update-mode sink) over the events table
    and returns each key's FINAL running statistics — which the oracle
    recomputes in plain SQL from the same quantized folds. This is the
    strongest certification a streaming operator can get here: the
    actual stateful streaming execution, value-hash-checked against
    DuckDB (the sessionizer's fidelity row is rows-only; the moment
    algebra is SQL-expressible, so this one isn't).

    The emitted cv column is dropped and std is re-frounded because
    the driver hash needs stable floats; mean/std derive from exact
    integer state identically on both sides.
    """
    from ..streaming.moments import moments_stream
    from .llmdata11 import _cached_corpus, _fidelity_tmp, _materialize, _run_stream_to_memory

    tmp = _fidelity_tmp("moments-fidelity-")  # per-run ckpt/sink only
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    corpus = _cached_corpus(
        ("moments", sf_dir),
        lambda p: ev.write.mode("overwrite").parquet(f"{p}/in"),
    )
    stream = moments_stream(
        spark.readStream.schema("event_type string, value double").parquet(
            f"{corpus}/in"
        )
    )
    out = _run_stream_to_memory(spark, stream, tmp)
    w = Window.partitionBy("event_type").orderBy(F.desc("n"))
    final = (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            "n",
            fround(F.col("mean"), 6).alias("mean"),
            fround(F.col("std"), 6).alias("std"),
        )
        .orderBy("event_type")
    )
    return _materialize(
        spark, tmp, final, "event_type string, n bigint, mean double, std double"
    )
