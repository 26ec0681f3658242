"""Round 7 batch 2: PromQL evaluation semantics + SRE/observability
operators — the reference's own DOMAIN, extended from export to query.

The reference stops at exporting Prometheus metrics (metrics.go:8-70:
counters + cumulative `le` histograms served on /metrics). Everything a
user DOES with those metrics — `histogram_quantile()`, `rate()` /
`increase()` with counter-reset correction, SLO error-budget burn — is
evaluated by a separate PromQL engine. This batch brings that
evaluation layer into the engine itself, distribution-first, with the
published PromQL semantics (linear interpolation within a bucket;
resets detected as value drops, corrected by adding the post-reset
value; multi-window burn rates per the Google SRE workbook), so the
histogram the pipeline exports can be queried where it was produced.

Plus two unrelated batch members: per-node clustering coefficient
(completing the graph family's triangle work into the standard local
metric) and incremental view maintenance of a join (the delta-join
identity every warehouse's incremental pipeline rests on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import fround, md5_long, money, name_graph, query, table, triangles

# Prometheus bucket bounds for events.value — the same ladder
# logpipe_value_histogram (A5 fidelity row) exports.
_BOUNDS = [10.0, 50.0, 100.0, 500.0]
_PHIS = [0.5, 0.9, 0.99]


@query(
    "promql_histogram_quantile",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST(count_if(value <= 10) AS BIGINT)  AS c1,
             CAST(count_if(value <= 50) AS BIGINT)  AS c2,
             CAST(count_if(value <= 100) AS BIGINT) AS c3,
             CAST(count_if(value <= 500) AS BIGINT) AS c4,
             CAST(count(value) AS BIGINT)           AS cinf
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ),
    q AS (
      SELECT h.*, p.phi, p.phi * cinf AS rank
      FROM h, (VALUES (0.5), (0.9), (0.99)) p(phi)
    )
    SELECT event_type, phi,
           floor(CASE
             WHEN rank <= c1 THEN 0.0   + (10.0 - 0.0)    * rank / c1
             WHEN rank <= c2 THEN 10.0  + (50.0 - 10.0)   * (rank - c1) / (c2 - c1)
             WHEN rank <= c3 THEN 50.0  + (100.0 - 50.0)  * (rank - c2) / (c3 - c2)
             WHEN rank <= c4 THEN 100.0 + (500.0 - 100.0) * (rank - c3) / (c4 - c3)
             ELSE 500.0
           END * 1e6 + 0.5) / 1e6 AS quantile
    FROM q ORDER BY event_type, phi
    """,
)
def promql_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``histogram_quantile(phi, ...)`` over the cumulative `le`
    buckets the reference exports (metrics.go:39-45 histogram shape,
    A5): rank = phi x count(+Inf bucket); locate the lowest bucket whose
    cumulative count reaches the rank; linear interpolation between the
    bucket's bounds (lower bound 0 for the first bucket, per Prometheus
    convention for positive-valued histograms); the +Inf bucket clamps
    to the highest finite bound. Evaluated for phi = 0.5/0.9/0.99 per
    series (event_type) — the exporter's histogram queried in place.

    100 TB: one scan folds values into |bounds|+1 cumulative counters
    per series (map-side partial agg); the quantile arithmetic runs on
    |series| x |phis| rows. No sort, no per-value shuffle — the entire
    point of bucketed histograms vs exact quantiles."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    aggs = [
        F.count_if(F.col("value") <= b).cast("bigint").alias(f"c{i+1}")
        for i, b in enumerate(_BOUNDS)
    ] + [F.count("value").cast("bigint").alias("cinf")]
    h = e.groupBy("event_type").agg(*aggs)
    phis = F.explode(F.array(*[F.lit(p) for p in _PHIS])).alias("phi")
    q = h.select("*", phis).withColumn("rank", F.col("phi") * F.col("cinf"))
    lo = [0.0] + _BOUNDS[:-1]
    cum = [F.lit(0)] + [F.col(f"c{i+1}") for i in range(len(_BOUNDS))]
    expr = F.lit(float(_BOUNDS[-1]))  # +Inf bucket → highest finite bound
    for i in reversed(range(len(_BOUNDS))):
        below, here = cum[i], cum[i + 1]
        interp = F.lit(lo[i]) + (F.lit(_BOUNDS[i]) - F.lit(lo[i])) * (
            F.col("rank") - below
        ) / (here - below)
        expr = F.when(F.col("rank") <= here, interp).otherwise(expr)
    return q.select(
        "event_type", "phi", fround(expr, 6).alias("quantile")
    ).orderBy("event_type", "phi")


@query(
    "promql_rate_counter_resets",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) % 100000
               AS counter_cents
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, counter_cents,
             counter_cents - lag(counter_cents)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta,
             first_value(counter_cents)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_c,
             last_value(counter_cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS last_c
      FROM s
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(count_if(delta < 0) AS BIGINT) AS n_resets,
           CAST(max(last_c) - max(first_c) AS BIGINT) AS naive_delta_cents,
           CAST(coalesce(sum(CASE WHEN delta IS NULL THEN 0
                                  WHEN delta < 0 THEN counter_cents
                                  ELSE delta END), 0) AS BIGINT)
             AS increase_cents
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def promql_rate_counter_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``increase()`` / counter-reset semantics: a Prometheus
    counter only rises, so a sample BELOW its predecessor means the
    process restarted and the counter rebegan at zero — the published
    correction adds the post-reset value itself (the increase since 0)
    instead of the negative delta. The fixture counter is synthesized
    deterministically from events (integer-cent cumulative sum mod
    100000 — a sawtooth with genuine resets), then per series:
    last−first (the naive answer rate() must NOT give) vs the
    reset-corrected increase, plus the reset count.

    Integer-cents discipline end-to-end: the cumulative fold, the mod,
    and the deltas are all BIGINT — no float reduction-order hazard in
    either engine (SCALE.md quantized-folds rule).

    100 TB: one shuffle on series key (user_id); the scan-side fold and
    per-key windows are the standard TSDB evaluation shape — every
    series evaluates independently, which is exactly how a PromQL
    engine shards."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    wcum = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.sum(cents).over(wcum) % 100000).alias("counter_cents"),
    )
    # (ts, event_id) everywhere: a duplicate (user_id, ts) would make the
    # lag/first/last results engine-dependent under ts-only ordering
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = s.select(
        "user_id",
        "counter_cents",
        (F.col("counter_cents") - F.lag("counter_cents").over(wo)).alias("delta"),
        F.first("counter_cents").over(wo).alias("first_c"),
        F.last("counter_cents").over(wall).alias("last_c"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.count_if(F.col("delta") < 0).alias("n_resets"),
            (F.max("last_c") - F.max("first_c")).cast("bigint").alias(
                "naive_delta_cents"
            ),
            F.coalesce(
                F.sum(
                    F.when(F.col("delta").isNull(), F.lit(0))
                    .when(F.col("delta") < 0, F.col("counter_cents"))
                    .otherwise(F.col("delta"))
                ),
                F.lit(0),
            ).cast("bigint").alias("increase_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "slo_error_budget_burn",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    ),
    rates AS (
      SELECT day, n_events, n_errors,
             CAST(n_errors AS DOUBLE) / n_events AS er,
             CAST(sum(n_errors) OVER w7 AS DOUBLE)
               / sum(n_events) OVER w7 AS er7
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_events, n_errors,
           floor(er / 0.01 * 1e4 + 0.5) / 1e4 AS burn_1d,
           floor(er7 / 0.01 * 1e4 + 0.5) / 1e4 AS burn_7d,
           (er / 0.01 > 1.0 AND er7 / 0.01 > 1.0) AS page
    FROM rates ORDER BY day
    """,
)
def slo_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate, multi-window (the Google SRE workbook
    alerting recipe): against a 99% success SLO (budget 0.01), burn =
    error_rate / budget per day and per trailing 7 days; page when BOTH
    windows burn above 1x — the short window gives reaction time, the
    long window suppresses blips. This is the alerting layer the
    reference's query_errors counters (metrics.go:23-29) feed in a real
    deployment, computed from the same event stream the engine already
    sessionizes.

    100 TB: the daily pre-aggregate reduces the stream to |days| rows
    before any window runs; burn windows are ROWS frames over that tiny
    series. One shuffle, fixed-size window state."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
    )
    w7 = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    er = F.col("n_errors").cast("double") / F.col("n_events")
    er7 = F.sum("n_errors").over(w7).cast("double") / F.sum("n_events").over(w7)
    return (
        daily.select(
            "day",
            "n_events",
            "n_errors",
            fround(er / 0.01, 4).alias("burn_1d"),
            fround(er7 / 0.01, 4).alias("burn_7d"),
            ((er / 0.01 > 1.0) & (er7 / 0.01 > 1.0)).alias("page"),
        )
        .orderBy("day")
    )


@query(
    "graph_clustering_coefficient",
    oracle="""
    WITH nm AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    e AS (
      SELECT a.p_name AS src, b.p_name AS dst
      FROM nm a JOIN nm b
        ON a.blk = b.blk AND a.p_name < b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    und AS (
      SELECT src AS v, dst AS u FROM e UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY v),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    pertri AS (
      SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tcount AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM pertri GROUP BY v)
    SELECT d.v AS p_name, d.degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.degree >= 2 THEN
             floor(2.0 * coalesce(t.n_tri, 0)
                   / (d.degree * (d.degree - 1)) * 1e6 + 0.5) / 1e6
           ELSE 0.0 END AS coeff
    FROM deg d LEFT JOIN tcount t ON t.v = d.v
    ORDER BY p_name
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient over the name-similarity
    graph (the graph_triangle_count substrate): coeff(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) — the standard Watts-Strogatz local metric, the
    per-node refinement of the block-level triangle counts already in
    the registry. A dedup pipeline reads this to tell tight duplicate
    CLIQUES (coeff → 1) from similarity CHAINS (coeff → 0) before
    choosing cluster canonicalization strategy.

    Oriented edges (src < dst, ``core.triangles``) build each triangle
    exactly once; the degree is a count over the symmetric edge list
    (``core.name_graph``); each triangle then credits all three vertices
    via one in-row explode — no x6 overcount, no distinct. 100 TB: same plan family as the
    triangle count (block-bounded edge join), plus one explode and two
    key-shuffled aggregates; degree-ordered orientation bounds fan-out
    by arboricity when blocks stop being small."""
    _, e = name_graph(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    tri = triangles(e.filter(F.col("src") < F.col("dst")))
    pertri = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("v")
    )
    tcount = pertri.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tri")
    )
    ntri = F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
    coeff = F.when(
        F.col("degree") >= 2,
        fround(
            2.0 * ntri / (F.col("degree") * (F.col("degree") - 1)), 6
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tcount, "v", "left")
        .select(
            F.col("v").alias("p_name"),
            "degree",
            ntri.alias("n_tri"),
            coeff.alias("coeff"),
        )
        .orderBy("p_name")
    )


@query(
    "ivm_join_delta",
    oracle="""
    WITH tagged AS (
      SELECT o.*,
             (CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
                   AS UBIGINT) % 10 < 9) AS is_base
      FROM orders o
    ),
    dims AS (
      SELECT c_custkey, n_name FROM customer JOIN nation ON n_nationkey = c_nationkey
    ),
    base AS (
      SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      FROM tagged JOIN dims ON c_custkey = o_custkey
      WHERE is_base GROUP BY n_name
    ),
    delta AS (
      SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      FROM tagged JOIN dims ON c_custkey = o_custkey
      WHERE NOT is_base GROUP BY n_name
    ),
    full_v AS (
      SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      FROM tagged JOIN dims ON c_custkey = o_custkey
      GROUP BY n_name
    )
    SELECT f.n_name,
           CAST(coalesce(b.v, 0) AS DOUBLE) AS base_revenue,
           CAST(coalesce(d.v, 0) AS DOUBLE) AS delta_revenue,
           CAST(coalesce(b.v, 0) + coalesce(d.v, 0) AS DOUBLE)
             AS incremental_revenue,
           CAST(f.v AS DOUBLE) AS recomputed_revenue,
           coalesce(b.v, 0) + coalesce(d.v, 0) = f.v AS ivm_exact
    FROM full_v f
    LEFT JOIN base b ON b.n_name = f.n_name
    LEFT JOIN delta d ON d.n_name = f.n_name
    ORDER BY f.n_name
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a join-aggregate (the delta-join
    identity: V(R ∪ ΔR ⋈ S) = V(R ⋈ S) + V(ΔR ⋈ S) when S is static and
    the aggregate is a commutative monoid): orders split 90/10 into
    base/delta by content hash, the nation-revenue view maintained
    incrementally (base result + delta contribution only) and verified
    against full recomputation AS A LITERAL BOOLEAN per group. DECIMAL
    sums keep the identity exact — the float version of this operator
    would only be approximately true, which is why warehouse IVM runs
    on exact types.

    100 TB: the point of IVM — the maintenance pass scans |Δ|, not |R|;
    both joins broadcast the dim side; per-group state is one decimal.
    The recompute branch exists here only as the self-audit."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    dims = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        "c_custkey", "n_name"
    )
    tagged = o.withColumn(
        "is_base", md5_long(F.col("o_orderkey").cast("string")) % 10 < 9
    ).join(dims, F.col("c_custkey") == F.col("o_custkey"))
    # one scan feeds base/delta/full branches: conditional aggregates
    # over the SAME shuffled frame instead of three joins (the audit
    # branch costs one extra column, not one extra scan).
    agg = tagged.groupBy("n_name").agg(
        F.sum(F.when(F.col("is_base"), money(F.col("o_totalprice")))).alias("_b"),
        F.sum(F.when(~F.col("is_base"), money(F.col("o_totalprice")))).alias("_d"),
        F.sum(money(F.col("o_totalprice"))).alias("_f"),
    )
    zero = F.lit(0).cast("decimal(18,2)")
    b = F.coalesce(F.col("_b"), zero)
    d = F.coalesce(F.col("_d"), zero)
    return agg.select(
        "n_name",
        b.cast("double").alias("base_revenue"),
        d.cast("double").alias("delta_revenue"),
        (b + d).cast("double").alias("incremental_revenue"),
        F.col("_f").cast("double").alias("recomputed_revenue"),
        ((b + d) == F.col("_f")).alias("ivm_exact"),
    ).orderBy("n_name")


@query(
    "stats_fdr_bh",
    oracle="""
    WITH cents AS (
      SELECT event_type, isodow(ts) - 1 AS dow,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    cell AS (
      SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM cents GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(s) AS BIGINT) AS st
      FROM cell GROUP BY 1
    ),
    z AS (
      SELECT c.event_type, c.dow,
             -- z^2 = (mean_g - mean_all)^2 / (var_g / n_g), all moments
             -- exact BIGINT; the two divisions are the only float ops
             (CAST(c.s AS DOUBLE) / c.n - CAST(t.st AS DOUBLE) / t.nt)
               AS diff,
             (CAST(c.ss AS DOUBLE) / c.n
              - (CAST(c.s AS DOUBLE) / c.n) * (CAST(c.s AS DOUBLE) / c.n))
               / c.n AS se2
      FROM cell c JOIN tot t ON t.event_type = c.event_type
    ),
    p AS (
      SELECT event_type, dow,
             least(1.0, se2 / (diff * diff)) AS p_cheb
      FROM z
    ),
    ranked AS (
      SELECT event_type, dow, p_cheb,
             row_number() OVER (ORDER BY p_cheb, event_type, dow) AS rk,
             count(*) OVER () AS m
      FROM p
    ),
    cut AS (
      SELECT coalesce(max(rk), 0) AS kmax FROM ranked
      WHERE p_cheb <= 0.10 * rk / m
    )
    SELECT event_type, dow,
           floor(p_cheb * 1e8 + 0.5) / 1e8 AS p_cheb,
           CAST(rk AS BIGINT) AS rk,
           floor(0.10 * rk / m * 1e8 + 0.5) / 1e8 AS bh_threshold,
           rk <= (SELECT kmax FROM cut) AS rejected
    FROM ranked ORDER BY rk
    """,
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a 35-hypothesis family
    (event_type x day-of-week mean-shift tests): sort p ascending, find
    the LARGEST k with p_(k) <= (k/m)·q (q = 0.10), reject hypotheses
    1..k — the step-up procedure exactly as published, including the
    subtlety that rejections below the cut keep p-values ABOVE their own
    thresholds. p-values are Chebyshev bounds p = min(1, Var/(n·diff²))
    — conservative (BH keeps FDR control under any valid p-value) and,
    decisively for this engine, EXACT RATIONAL arithmetic: all moments
    fold as integer cents/cents², so no libm call of either engine is on
    the hash path (the SCALE.md transcendental rule taken to its
    conclusion: restructure the statistic rather than trust exp/erf to
    agree cross-engine).

    100 TB: moments fold map-side per (type, dow); the BH sort runs on
    m = |family| rows — the procedure is driver-scale by definition,
    the data pass is one aggregation."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    cell = e.select(
        "event_type", F.weekday("ts").alias("dow"), cents.alias("c")
    ).groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    tot = cell.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
    )
    mean_g = F.col("s").cast("double") / F.col("n")
    mean_all = F.col("st").cast("double") / F.col("nt")
    se2 = (
        F.col("ss").cast("double") / F.col("n") - mean_g * mean_g
    ) / F.col("n")
    p = cell.join(tot, "event_type").select(
        "event_type",
        "dow",
        F.least(
            F.lit(1.0), se2 / ((mean_g - mean_all) * (mean_g - mean_all))
        ).alias("p_cheb"),
    )
    wall = Window.orderBy("p_cheb", "event_type", "dow")
    ranked = p.select(
        "event_type",
        "dow",
        "p_cheb",
        F.row_number().over(wall).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    ).localCheckpoint(eager=False)  # feeds the cut aggregate AND the report
    thr = 0.10 * F.col("rk") / F.col("m")
    kmax = ranked.filter(F.col("p_cheb") <= thr).agg(
        F.coalesce(F.max("rk"), F.lit(0)).alias("kmax")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            "dow",
            fround(F.col("p_cheb"), 8).alias("p_cheb"),
            F.col("rk").cast("bigint").alias("rk"),
            fround(thr, 8).alias("bh_threshold"),
            (F.col("rk") <= F.col("kmax")).alias("rejected"),
        )
        .orderBy("rk")
    )


@query(
    "logpipe_promql_histogram_quantile",
    oracle="""
    WITH base AS (
      SELECT CASE event_type WHEN 'click' THEN 'select' WHEN 'view' THEN 'select'
                             WHEN 'purchase' THEN 'insert' WHEN 'signup' THEN 'update'
                             ELSE 'other' END AS type,
             CAST(event_id % 7 AS DOUBLE) AS elapsed
      FROM events WHERE value IS NOT NULL AND value >= 0 AND event_id % 3 <> 0
    ),
    h AS (
      SELECT type,
             CAST(count_if(elapsed <= 1) AS BIGINT)  AS c1,
             CAST(count_if(elapsed <= 5) AS BIGINT)  AS c2,
             CAST(count_if(elapsed <= 10) AS BIGINT) AS c3,
             CAST(count(*) AS BIGINT)                AS cinf
      FROM base GROUP BY type
    ),
    q AS (
      SELECT h.*, p.phi, p.phi * cinf AS rank
      FROM h, (VALUES (0.5), (0.9), (0.99)) p(phi)
    )
    SELECT type, phi,
           floor(CASE
             WHEN rank <= c1 THEN 0.0 + (1.0 - 0.0)  * rank / c1
             WHEN rank <= c2 THEN 1.0 + (5.0 - 1.0)  * (rank - c1) / (c2 - c1)
             WHEN rank <= c3 THEN 5.0 + (10.0 - 5.0) * (rank - c2) / (c3 - c2)
             ELSE 10.0
           END * 1e6 + 0.5) / 1e6 AS quantile
    FROM q ORDER BY type, phi
    """,
)
def logpipe_promql_histogram_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference loop CLOSED end-to-end in one Catalyst plan: raw
    ClickHouse log text → regex parse (P1-P4) → session correlation →
    elapsed derivation (memory.dt − initial.dt, query.go:226) → the A5
    cumulative `le` histogram (metrics.go:39-45) → PromQL
    ``histogram_quantile(phi)`` evaluated over the engine's OWN export.
    The reference stops at serving the buckets; its users' very next
    step — the latency quantile on the Grafana dashboard — happens in a
    separate PromQL engine. Here it is the same DataFrame, and the
    DuckDB oracle recomputes the whole chain from event arithmetic.

    100 TB: the log parse is embarrassingly parallel (no shuffle until
    the session correlate's id exchange); the histogram fold reduces
    everything to |types| x |bounds| counters before the quantile
    arithmetic — the full pipeline has exactly two exchanges."""
    from ..functions.histogram import prometheus_histogram
    from ..operators.correlate import annotate_events
    from ..operators.parsing import parse_log_lines

    from .core import fan_out

    e = fan_out(table(spark, sf_dir, "events")).filter(
        F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & (F.col("event_id") % 3 != 0)
    ).localCheckpoint(eager=False)  # initial + memory line branches
    qid = F.concat(F.lit("q-"), F.col("event_id").cast("string"))
    dt0 = F.date_format("ts", "yyyy.MM.dd HH:mm:ss.SSSSSS")
    dt_end = F.date_format(
        F.col("ts") + F.make_interval(secs=(F.col("event_id") % 7).cast("double")),
        "yyyy.MM.dd HH:mm:ss.SSSSSS",
    )
    pid = (F.col("event_id") % 997).cast("string")
    sql_text = (
        F.when(F.col("event_type") == "click", F.lit("SELECT count() FROM hits"))
        .when(F.col("event_type") == "view", F.lit("/* cached */ SELECT 1"))
        .when(F.col("event_type") == "purchase", F.lit("INSERT INTO sales VALUES (1)"))
        .when(F.col("event_type") == "signup", F.lit("UPDATE users SET active = 1"))
        .otherwise(F.lit("OPTIMIZE TABLE hits"))
    )
    initial = e.select(
        F.concat(dt0, F.lit(" [ "), pid, F.lit(" ] {"), qid,
                 F.lit("} <Debug> executeQuery: (from 10.0.0.7:9000) "),
                 sql_text).alias("value")
    )
    memory = e.select(
        F.concat(dt_end, F.lit(" [ "), pid, F.lit(" ] {"), qid,
                 F.lit("} <Debug> MemoryTracker: Peak memory usage "
                       "(for query): 1.00 MiB.")).alias("value")
    )
    ev = annotate_events(parse_log_lines(initial.unionAll(memory)))
    mem = ev.filter(F.col("memory_valid")).withColumn(
        "elapsed",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("session_start_ts")))
        / 1e6,
    )
    bounds = [1.0, 5.0, 10.0]
    h = prometheus_histogram(mem, "elapsed", [1, 5, 10], ["session_stmt"])
    phis = F.explode(F.array(*[F.lit(p) for p in _PHIS])).alias("phi")
    q = h.select(
        F.col("session_stmt").alias("type"),
        F.col("le_1").alias("c1"),
        F.col("le_5").alias("c2"),
        F.col("le_10").alias("c3"),
        F.col("bucket_count").cast("bigint").alias("cinf"),
    ).select("*", phis).withColumn("rank", F.col("phi") * F.col("cinf"))
    lo = [0.0] + bounds[:-1]
    cum = [F.lit(0)] + [F.col(f"c{i+1}") for i in range(len(bounds))]
    expr = F.lit(bounds[-1])
    for i in reversed(range(len(bounds))):
        below, here = cum[i], cum[i + 1]
        interp = F.lit(lo[i]) + (F.lit(bounds[i]) - F.lit(lo[i])) * (
            F.col("rank") - below
        ) / (here - below)
        expr = F.when(F.col("rank") <= here, interp).otherwise(expr)
    return q.select(
        "type", "phi", fround(expr, 6).alias("quantile")
    ).orderBy("type", "phi")
