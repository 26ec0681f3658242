"""Relational breadth, round 6 batch 6: classical seasonal
decomposition over the daily revenue series (seasonal-naive + centered
moving-average trend — the additive STL-lite every metrics stack runs
before alerting on residuals) and graph link-prediction scores
(common-neighbors / Jaccard / Adamic–Adar over the name-similarity
graph — the classic missing-edge ranking features).

Both follow the exact-arithmetic discipline: integer cents for all
sums, one quantized division at the end of each derived statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import fround, name_graph, query, table


@query(
    "timeseries_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
      GROUP BY 1
    ),
    trend AS (
      SELECT day, cents,
             CASE WHEN count(*) OVER w = 7
                  THEN CAST(sum(cents) OVER w AS BIGINT) END AS tsum
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    season AS (
      SELECT dayofweek(day) AS dow,
             CAST(sum(cents) AS BIGINT) AS s_sum,
             CAST(count(*) AS BIGINT) AS s_n
      FROM daily GROUP BY 1
    )
    SELECT CAST(t.day AS VARCHAR) AS day, t.cents AS actual_cents,
           floor(CAST(t.tsum AS DOUBLE) / 7 / 100 * 1e4 + 0.5) / 1e4
             AS trend,
           floor(CAST(s.s_sum AS DOUBLE) / s.s_n / 100 * 1e4 + 0.5) / 1e4
             AS seasonal,
           floor((CAST(t.cents AS DOUBLE) / 100
                  - CAST(t.tsum AS DOUBLE) / 7 / 100
                  - CAST(s.s_sum AS DOUBLE) / s.s_n / 100) * 1e4 + 0.5)
             / 1e4 AS residual
    FROM trend t JOIN season s ON s.dow = dayofweek(t.day)
    WHERE t.tsum IS NOT NULL
    ORDER BY t.day
    """,
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily purchase revenue —
    trend = centered 7-day moving average (NULL at the edges where the
    window is partial, like every real decomposition), seasonal =
    day-of-week mean, residual = actual − trend − seasonal. The
    residual column is what a metrics stack alerts on: it removes both
    the weekly rhythm and the slow drift that make raw thresholds
    useless. All sums fold in integer cents; each emitted statistic is
    one double division quantized at 1e-4.

    The 7-row centered window rides a GLOBAL day order — bounded by the
    CALENDAR (30 rows here, 365 in production), not the corpus, which
    is the documented exception plan_audit's whitelist encodes: the
    window input is the pre-aggregated daily series.

    100 TB: one scan folds to the daily series; everything after runs
    on calendar-sized data."""
    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("event_type") == "purchase")
    )
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.floor(F.sum("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint(eager=False)  # trend window + seasonal means
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trend = daily.select(
        "day",
        "cents",
        F.when(F.count(F.lit(1)).over(w) == 7, F.sum("cents").over(w)).alias(
            "tsum"
        ),
    )
    season = daily.groupBy(F.dayofweek("day").alias("dow")).agg(
        F.sum("cents").alias("s_sum"), F.count(F.lit(1)).alias("s_n")
    )
    t_d = F.col("tsum").cast("double") / 7 / 100
    s_d = F.col("s_sum").cast("double") / F.col("s_n") / 100
    return (
        trend.filter(F.col("tsum").isNotNull())
        .join(F.broadcast(season), F.dayofweek("day") == F.col("dow"))
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("cents").alias("actual_cents"),
            fround(t_d, 4).alias("trend"),
            fround(s_d, 4).alias("seasonal"),
            fround(F.col("cents").cast("double") / 100 - t_d - s_d, 4).alias(
                "residual"
            ),
        )
        .orderBy("day")
    )


@query(
    "graph_link_prediction",
    oracle="""
    WITH nm AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    e AS MATERIALIZED (
      SELECT a.p_name AS src, b.p_name AS dst
      FROM nm a JOIN nm b
        ON a.blk = b.blk AND a.p_name <> b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM e GROUP BY 1),
    wedges AS (
      SELECT e1.src AS u, e2.dst AS v, e1.dst AS via
      FROM e e1 JOIN e e2 ON e2.src = e1.dst
      WHERE e1.src < e2.dst
        AND NOT EXISTS (SELECT 1 FROM e x
                        WHERE x.src = e1.src AND x.dst = e2.dst)
    ),
    scored AS (
      SELECT w.u, w.v,
             CAST(count(*) AS BIGINT) AS common_n,
             CAST(floor(sum(1e6 / ln(CAST(d.d AS DOUBLE)))) AS BIGINT)
               AS aa_micro
      FROM wedges w JOIN deg d ON d.node = w.via
      WHERE d.d >= 2
      GROUP BY 1, 2
    )
    SELECT s.u, s.v, s.common_n,
           floor(CAST(s.common_n AS DOUBLE)
                 / (du.d + dv.d - s.common_n) * 1e6 + 0.5) / 1e6
             AS jaccard,
           s.aa_micro
    FROM scored s
    JOIN deg du ON du.node = s.u
    JOIN deg dv ON dv.node = s.v
    ORDER BY s.common_n DESC, s.u, s.v
    LIMIT 25
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores for NON-edges of the name-similarity
    graph — the classical missing-edge features: common-neighbor count,
    Jaccard overlap of neighborhoods, and Adamic–Adar (Σ 1/ln(deg(via)),
    down-weighting hub-mediated wedges), top-25 candidate pairs. The
    wedge enumeration is the triangle-counting join shape with an
    anti-join (NOT EXISTS) removing pairs already connected — so what
    remains is exactly the 2-hop candidate set every friend-of-friend
    recommender scores.

    Determinism: Adamic–Adar's per-wedge 1/ln(d) terms are floored to
    integer MICRO-units before summing (the DSIR λ discipline) — the
    aggregation is an integer sum with no fold-order hazard; Jaccard is
    one quantized division from exact integer counts.

    100 TB: wedges = Σ deg² over the blocked graph (candidate pairs,
    never all-pairs); degrees broadcast; the anti-join is a shuffle on
    the wedge endpoints."""
    nm, e0 = name_graph(spark, sf_dir)
    e = e0.select("src", "dst")
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("via"))
    e2 = e.select(F.col("src").alias("via"), F.col("dst").alias("v"))
    wedges = (
        e1.join(e2, "via")
        .filter(F.col("u") < F.col("v"))
        .join(
            e.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            ["u", "v"],
            "left_anti",
        )
    )
    # per-wedge AA term in integer micro-units (only via-nodes with
    # degree >= 2 contribute a finite 1/ln)
    scored = (
        wedges.join(F.broadcast(deg.withColumnRenamed("node", "via")), "via")
        .filter(F.col("d") >= 2)
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("common_n"),
            F.sum(
                F.floor(F.lit(1e6) / F.log(F.col("d").cast("double")))
            )
            .cast("bigint")
            .alias("aa_micro"),
        )
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        scored.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "common_n",
            fround(
                F.col("common_n").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_n")),
                6,
            ).alias("jaccard"),
            "aa_micro",
        )
        .orderBy(F.desc("common_n"), "u", "v")
        .limit(25)
    )


@query(
    "er_golden_record_merge",
    oracle="""
    WITH g AS (
      SELECT p_name,
             CAST(count(*) AS BIGINT) AS n_records,
             max(p_retailprice) AS best_price,
             min(p_size) AS min_size,
             max(p_size) AS max_size
      FROM part GROUP BY p_name
    ),
    brand_votes AS (
      SELECT p_name, p_brand, CAST(count(*) AS BIGINT) AS c
      FROM part GROUP BY 1, 2
    ),
    brand_pick AS (
      SELECT p_name, p_brand AS golden_brand
      FROM (SELECT *, row_number() OVER (PARTITION BY p_name
                                         ORDER BY c DESC, p_brand) AS rk
            FROM brand_votes)
      WHERE rk = 1
    ),
    type_pick AS (
      SELECT p_name, max(p_type) AS golden_type FROM part GROUP BY 1
    )
    SELECT g.p_name, g.n_records, b.golden_brand, t.golden_type,
           g.best_price, g.min_size, g.max_size
    FROM g JOIN brand_pick b USING (p_name)
    JOIN type_pick t USING (p_name)
    WHERE g.n_records >= 2
    ORDER BY g.p_name
    """,
)
def er_golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (the MDM merge step AFTER entity
    resolution clusters records): for every duplicated part name, fuse
    one canonical record by per-FIELD rules — brand by majority vote
    with deterministic ties (count desc, value asc), type by longest/
    max, price by maximum, size as the [min, max] conflict range kept
    for audit. This is what er_blocked_name_match's clusters feed in a
    real pipeline; each rule is a different aggregation pattern
    (mode-with-ties via WindowGroupLimit, plain max, range).

    100 TB: everything keys on the entity id — one shuffle; the vote
    window runs per entity over member-count rows."""
    p = table(spark, sf_dir, "part").localCheckpoint(eager=False)
    g = p.groupBy("p_name").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.max("p_retailprice").alias("best_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )
    votes = p.groupBy("p_name", "p_brand").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy("p_name").orderBy(F.desc("c"), "p_brand")
    brand = (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("p_name", F.col("p_brand").alias("golden_brand"))
    )
    tpick = p.groupBy("p_name").agg(F.max("p_type").alias("golden_type"))
    return (
        g.join(brand, "p_name")
        .join(tpick, "p_name")
        .filter(F.col("n_records") >= 2)
        .select(
            "p_name",
            "n_records",
            "golden_brand",
            "golden_type",
            "best_price",
            "min_size",
            "max_size",
        )
        .orderBy("p_name")
    )


@query(
    "bitmap_exact_distinct_agg",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
             AS n_users_global
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def bitmap_exact_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through Spark's bitmap aggregate family
    (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``):
    per-type user bitmaps built bucket-wise, counted exactly, and OR-
    merged across types into the global count WITHOUT rescanning —
    HLL's mergeability with NONE of its error, at the cost of
    cardinality-proportional state (the roaring-bitmap trade every
    OLAP store offers). The oracle is plain count(DISTINCT): bitmaps
    must reproduce it bit-for-bit.

    100 TB: state per group is |ids|/8 bytes spread over 32k-bit
    buckets; the merge row reuses the per-(type,bucket) bitmaps —
    checkpoint-once, no second events scan."""
    e = table(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bkt"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .localCheckpoint(eager=False)  # per-type counts + global merge
    )
    typed = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users")
    )
    glob = (
        per_bucket.groupBy("bkt")
        .agg(F.bitmap_or_agg("bm").alias("gbm"))
        .agg(F.sum(F.bitmap_count("gbm")).alias("n_users_global"))
    )
    return (
        typed.crossJoin(F.broadcast(glob))
        .select("event_type", "n_users", "n_users_global")
        .orderBy("event_type")
    )


@query(
    "stats_trimmed_winsorized",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT event_type, cents, n,
             CAST(floor(n * 0.1) AS BIGINT) AS k,
             rn
      FROM q
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           floor(CAST(sum(CASE WHEN rn > k AND rn <= n - k
                               THEN cents END) AS DOUBLE)
                 / (max(n) - 2 * max(k)) / 100 * 1e4 + 0.5) / 1e4
             AS trimmed_mean,
           floor(CAST(sum(CASE
                   WHEN rn <= k THEN NULL
                   WHEN rn > n - k THEN NULL
                   ELSE cents END)
                 + max(k) * (SELECT min(c2.cents) FROM b c2
                             WHERE c2.event_type = b.event_type
                               AND c2.rn = c2.k + 1)
                 + max(k) * (SELECT max(c3.cents) FROM b c3
                             WHERE c3.event_type = b.event_type
                               AND c3.rn = c3.n - c3.k)
                 AS DOUBLE) / max(n) / 100 * 1e4 + 0.5) / 1e4
             AS winsorized_mean
    FROM b GROUP BY event_type ORDER BY event_type
    """,
)
def stats_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimators per event type: the 10% TRIMMED mean
    (drop the lowest and highest decile, average the middle) and the
    10% WINSORIZED mean (CLAMP the tails to the cut values instead of
    dropping them — same robustness, keeps n constant). The pair is the
    standard heavy-tail defense when a median loses too much
    information; the gap between them is itself a tail-weight signal.

    Exactness: ranks come from one per-type window with (value,
    event_id) tie order; sums fold in integer cents; the clamp values
    are the exact boundary elements (rank k+1 and n−k). One scan, one
    per-type window, one aggregate.

    100 TB: the window partitions by type (bounded groups); the
    unbounded-group form swaps the rank window for the value-grouped
    rank arithmetic (hist_equidepth_values pattern)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    q = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("k", F.floor(F.col("n") * 0.1).cast("bigint"))
    mid = F.col("rn").between(F.col("k") + 1, F.col("n") - F.col("k"))
    agg = q.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(F.when(mid, F.col("cents"))).alias("mid_sum"),
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).alias(
            "lo_clamp"
        ),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("cents"))).alias(
            "hi_clamp"
        ),
    )
    trimmed = (
        F.col("mid_sum").cast("double")
        / (F.col("n") - 2 * F.col("k"))
        / 100
    )
    wins = (
        (
            F.col("mid_sum")
            + F.col("k") * F.col("lo_clamp")
            + F.col("k") * F.col("hi_clamp")
        ).cast("double")
        / F.col("n")
        / 100
    )
    return agg.select(
        "event_type",
        "n",
        fround(trimmed, 4).alias("trimmed_mean"),
        fround(wins, 4).alias("winsorized_mean"),
    ).orderBy("event_type")


@query(
    "crosssource_vocab_similarity",
    oracle="""
    WITH v AS (
      SELECT DISTINCT source, u.tok
      FROM documents, unnest(string_split(text, ' ')) AS u(tok)
      WHERE text IS NOT NULL
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
              FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS common
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.common, sa.n AS n_a, sb.n AS n_b,
           floor(CAST(i.common AS DOUBLE) / (sa.n + sb.n - i.common)
                 * 1e6 + 0.5) / 1e6 AS jaccard,
           floor(2.0 * i.common / (sa.n + sb.n) * 1e6 + 0.5) / 1e6
             AS dice,
           floor(CAST(i.common AS DOUBLE) / least(sa.n, sb.n)
                 * 1e6 + 0.5) / 1e6 AS overlap
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY i.src_a, i.src_b
    """,
)
def crosssource_vocab_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary similarity matrix — Jaccard, Sørensen–
    Dice, and the overlap coefficient over each source's DISTINCT token
    set: the corpus-mixing diagnostic that says which feeds are
    near-clones (drop one) and which bring genuinely new vocabulary
    (upweight). Three coefficients because they answer different
    questions: Jaccard penalizes size mismatch, Dice rewards sheer
    intersection, overlap detects strict containment (≈1 when one
    vocabulary swallows the other).

    Plan: distinct (source, token) posting set checkpointed once, then
    the token-keyed self-join emits |sources|²-bounded pairs — the
    inverted-index discipline (crosssource_leakage_matrix's shape at
    vocabulary granularity)."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    v = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)  # sizes + both join sides
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "tok")
    b = v.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    c = F.col("common").cast("double")
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "common",
            "n_a",
            "n_b",
            fround(c / (F.col("n_a") + F.col("n_b") - F.col("common")), 6).alias(
                "jaccard"
            ),
            fround(F.lit(2.0) * F.col("common") / (F.col("n_a") + F.col("n_b")), 6).alias(
                "dice"
            ),
            fround(c / F.least("n_a", "n_b"), 6).alias("overlap"),
        )
        .orderBy("src_a", "src_b")
    )
