"""Round 10 batch: degree assortativity, Nelson–Aalen cumulative
hazard, isotonic regression (minimax closed form), split-conformal
prediction intervals, business-day SLA arithmetic, and PromQL
increase() boundary extrapolation — all integer-moment exact or
quantized-fold deterministic, every one DuckDB-oracle-checked.

Reference parity note: /root/reference (main.go:1-145, query.go:1-289,
metrics.go:1-75) has none of these surfaces; §2.3 north-star territory.
Methods are public: Newman 2002 (assortativity), Nelson 1972 / Aalen
1978 (cumulative hazard), the minimax representation of isotonic
regression (Barlow et al. 1972), Vovk et al. split conformal
prediction, and the Prometheus extrapolatedRate algorithm as published
in the PromQL docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import fround, name_graph, query, table


@query(
    "graph_degree_assortativity",
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
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS m_edges,
             CAST(sum(da.d * db.d) AS BIGINT) AS s_jk,
             CAST(sum(da.d + db.d) AS BIGINT) AS s_j_plus_k,
             CAST(sum(da.d * da.d + db.d * db.d) AS BIGINT) AS s_j2_plus_k2
      FROM e JOIN deg da ON da.node = e.src JOIN deg db ON db.node = e.dst
    )
    SELECT m_edges,
           floor((CAST(s_jk AS DOUBLE) / m_edges
                  - (CAST(s_j_plus_k AS DOUBLE) / (2 * m_edges))
                    * (CAST(s_j_plus_k AS DOUBLE) / (2 * m_edges)))
                 / (CAST(s_j2_plus_k2 AS DOUBLE) / (2 * m_edges)
                    - (CAST(s_j_plus_k AS DOUBLE) / (2 * m_edges))
                      * (CAST(s_j_plus_k AS DOUBLE) / (2 * m_edges)))
                 * 1e6 + 0.5) / 1e6 AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002 eq. 4): the Pearson
    correlation of the degrees at the two ends of each edge — positive
    when hubs link to hubs, negative for hub-and-spoke topologies. Over
    the part-name similarity graph the graph family shares
    (``core.name_graph``: blocked levenshtein<=2 self-join; both edge
    directions present, which makes the directed moment formula equal
    the undirected coefficient).

    All three moments (Σjk, Σ(j+k), Σ(j²+k²)) are exact BIGINT sums;
    doubles appear only in the final ratio — deterministic cross-engine.

    100 TB: degree census is one groupBy over the edge list; the two
    degree lookups are node-keyed equi-joins (shuffle on node id, the
    same exchange every graph-family operator uses); the coefficient is
    a 1-row integer-moment aggregate. No windows, no iteration."""
    _, e = name_graph(spark, sf_dir)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("ja"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("jb"))
    m = (
        e.join(da, "src")
        .join(db, "dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m_edges"),
            F.sum(F.col("ja") * F.col("jb")).cast("bigint").alias("s_jk"),
            F.sum(F.col("ja") + F.col("jb")).cast("bigint").alias("s_j_plus_k"),
            F.sum(F.col("ja") * F.col("ja") + F.col("jb") * F.col("jb"))
            .cast("bigint")
            .alias("s_j2_plus_k2"),
        )
    )
    mu = F.col("s_j_plus_k").cast("double") / (2 * F.col("m_edges"))
    num = F.col("s_jk").cast("double") / F.col("m_edges") - mu * mu
    den = F.col("s_j2_plus_k2").cast("double") / (2 * F.col("m_edges")) - mu * mu
    return m.select("m_edges", fround(num / den, 6).alias("assortativity"))


@query(
    "stats_nelson_aalen",
    oracle="""
    WITH subj AS (
      SELECT user_id,
             date_diff('day', min(ts), max(ts)) AS dur,
             max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS observed
      FROM events GROUP BY user_id
    ),
    deaths AS (
      SELECT dur AS t, CAST(count(*) AS BIGINT) AS d
      FROM subj WHERE observed = 1 GROUP BY dur
    ),
    risk AS (
      SELECT d.t, d.d,
             (SELECT CAST(count(*) AS BIGINT) FROM subj s WHERE s.dur >= d.t)
               AS n_risk
      FROM deaths d
    ),
    terms AS (
      SELECT t, d, n_risk,
             CAST(floor(d * 1e6 / n_risk + 0.5) AS BIGINT) AS h_q,
             CAST(floor(d * 1e6 / (CAST(n_risk AS DOUBLE) * n_risk) + 0.5)
                  AS BIGINT) AS v_q
      FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t_days, n_risk, d AS d_events,
           CAST(sum(h_q) OVER (ORDER BY t) AS DOUBLE) / 1e6 AS na_hazard,
           CAST(sum(v_q) OVER (ORDER BY t) AS DOUBLE) / 1e6 AS na_variance
    FROM terms ORDER BY t_days
    """,
)
def stats_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator H(t) = Σ_{tᵢ<=t} dᵢ/nᵢ
    with its Poisson-type variance Σ dᵢ/nᵢ² — the hazard-scale
    companion of `stats_kaplan_meier` (relational38.py), same subjects
    (users), same event (first error), same deaths-before-censoring
    risk-set convention. Unlike KM there is no product: each term is a
    RATIONAL dᵢ/nᵢ quantized to 1e-6 before the cumulative fold, so
    the whole estimator is an integer prefix sum — no log/exp at all.

    100 TB: identical life-table reduction as KM — one user-keyed
    aggregate, a duration-census broadcast theta-join for risk sets,
    and cumulative windows over the day-cardinality life table."""
    subj = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("ts"), F.min("ts")).cast("bigint").alias("dur"),
            F.max(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("observed"),
        )
        .localCheckpoint(eager=False)
    )
    deaths = (
        subj.filter(F.col("observed") == 1)
        .groupBy(F.col("dur").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    durc = subj.groupBy("dur").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    risk = (
        deaths.join(F.broadcast(durc), F.col("dur") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.sum("c").cast("bigint").alias("n_risk"))
    )
    h_q = F.floor(F.col("d") * 1e6 / F.col("n_risk") + F.lit(0.5)).cast("bigint")
    v_q = F.floor(
        F.col("d") * 1e6 / (F.col("n_risk").cast("double") * F.col("n_risk"))
        + F.lit(0.5)
    ).cast("bigint")
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.select(
            F.col("t").alias("t_days"),
            "n_risk",
            F.col("d").alias("d_events"),
            (F.sum(h_q).over(w).cast("double") / 1e6).alias("na_hazard"),
            (F.sum(v_q).over(w).cast("double") / 1e6).alias("na_variance"),
        )
        .orderBy("t_days")
    )


@query(
    "stats_isotonic_monthly",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mon,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT mon, cents,
             row_number() OVER (ORDER BY mon) AS i,
             sum(cents) OVER (ORDER BY mon) AS s
      FROM monthly
    ),
    pairs AS (
      SELECT a.i AS i, b.i AS j, a.mon AS mon_i,
             CAST(b.s - a.s + a.cents AS DOUBLE) / (b.i - a.i + 1) AS avg_ij
      FROM idx a JOIN idx b ON b.i >= a.i
    ),
    mn AS (
      SELECT i, j, mon_i,
             min(avg_ij) OVER (PARTITION BY i ORDER BY j DESC) AS mn_ij
      FROM pairs
    ),
    mx AS (
      SELECT i, j,
             max(mn_ij) OVER (PARTITION BY j ORDER BY i) AS mx_ij
      FROM mn
    )
    SELECT idx.mon, CAST(idx.cents AS BIGINT) AS revenue_cents,
           floor(mx.mx_ij / 100 * 1e6 + 0.5) / 1e6 AS iso_fit
    FROM mx JOIN idx ON idx.i = mx.j
    WHERE mx.i = mx.j
    ORDER BY idx.mon
    """,
)
def stats_isotonic_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of monthly revenue
    via the MINIMAX closed form (Barlow et al. 1972):
    ŷ_t = max_{i<=t} min_{j>=t} avg(x[i..j]) — the exact pool-adjacent-
    violators solution without PAVA's sequential pooling loop, which
    does not distribute. Averages come from one prefix-sum pass
    (integer cents), the O(n²) pair frame rides the MONTH-cardinality
    aggregate (84 months for 7 TPC-H years → 3.6k pairs at any SF), and
    the two minimax sweeps are partitioned windows over that bounded
    frame (each partition <= n rows).

    100 TB: the raw scan reduces to the calendar-bounded monthly
    aggregate first; everything quadratic happens on that bounded frame
    — the same life-table discipline as KM/Nelson-Aalen. Exactness:
    prefix sums are BIGINT; each avg is one int64/int division
    (correctly-rounded double, deterministic); min/max/compare only."""
    monthly = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("mon"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    wi = Window.orderBy("mon")
    idx = monthly.select(
        "mon",
        "cents",
        F.row_number().over(wi).alias("i"),
        F.sum("cents").over(wi.rowsBetween(Window.unboundedPreceding, 0)).alias("s"),
    ).localCheckpoint(eager=False)  # both sides of the bounded pair join
    a = idx.select(
        F.col("i").alias("ia"), F.col("mon").alias("mon_i"),
        F.col("cents").alias("ca"), F.col("s").alias("sa"),
    )
    b = idx.select(F.col("i").alias("jb"), F.col("s").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("jb") >= F.col("ia")).select(
        F.col("ia").alias("i"),
        F.col("jb").alias("j"),
        (
            (F.col("sb") - F.col("sa") + F.col("ca")).cast("double")
            / (F.col("jb") - F.col("ia") + 1)
        ).alias("avg_ij"),
    )
    wmn = Window.partitionBy("i").orderBy(F.desc("j")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wmx = Window.partitionBy("j").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    mx = (
        pairs.withColumn("mn_ij", F.min("avg_ij").over(wmn))
        .withColumn("mx_ij", F.max("mn_ij").over(wmx))
        .where(F.col("i") == F.col("j"))
        .select(F.col("j"), F.col("mx_ij"))
    )
    return (
        mx.join(idx, mx["j"] == idx["i"])
        .select(
            "mon",
            F.col("cents").alias("revenue_cents"),
            fround(F.col("mx_ij") / 100, 6).alias("iso_fit"),
        )
        .orderBy("mon")
    )


@query(
    "ml_conformal_interval",
    oracle="""
    WITH pts AS (
      SELECT l_orderkey % 3 AS split,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM pts WHERE split = 0
    ),
    coef AS (
      SELECT CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS b6,
             CAST(floor((CAST(sy AS DOUBLE)
                         - CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                                      / CAST(n * sxx - sx * sx AS DOUBLE)
                                      * 1e6 + 0.5) AS BIGINT)
                           / 1e6 * CAST(sx AS DOUBLE)) / n + 0.5)
                  AS BIGINT) AS a_c
      FROM fit
    ),
    cal AS (
      SELECT abs(y - (a_c + CAST(floor(b6 / 1e6 * x + 0.5) AS BIGINT)))
               AS r_c
      FROM pts, coef WHERE split = 1
    ),
    census AS (
      SELECT r_c, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY r_c
    ),
    ranked AS (
      SELECT r_c, sum(c) OVER (ORDER BY r_c) AS cum,
             sum(c) OVER () AS n_cal
      FROM census
    ),
    q AS (
      SELECT CAST(min(n_cal) AS BIGINT) AS n_cal,
             CAST(min(CASE WHEN cum * 10 >= (n_cal + 1) * 9 THEN r_c END)
                  AS BIGINT) AS q_cents
      FROM ranked
    )
    SELECT q.n_cal, q.q_cents,
           (SELECT CAST(count(*) AS BIGINT) FROM pts WHERE split = 2)
             AS n_test,
           (SELECT floor(avg(CASE WHEN
                    abs(y - (a_c + CAST(floor(b6 / 1e6 * x + 0.5) AS BIGINT)))
                      <= q.q_cents THEN 1.0 ELSE 0.0 END) * 1e6 + 0.5) / 1e6
            FROM pts, coef WHERE split = 2) AS coverage,
           (SELECT floor(b6 / 1e6 * 1e6 + 0.5) / 1e6 FROM coef)
             AS slope_cents_per_unit
    FROM q
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction (Vovk; Lei et al. 2018 recipe): fit a
    1-D OLS of price on quantity on the TRAIN split (l_orderkey%3=0),
    take the ⌈0.9·(n+1)⌉-th smallest absolute calibration residual
    (split=1) as the interval half-width q̂, and report empirical
    coverage of ŷ±q̂ on the held-out TEST split (=2) — the
    finite-sample-valid interval construction, fully rank-based.

    Exactness discipline: moments in HUGEINT/decimal (n·Σxy overflows
    int64 at sf>=0.1), slope/intercept QUANTIZED to 1e-6/1-cent before
    any residual is formed, residuals are exact integers, and the
    conformal rank ⌈0.9(n+1)⌉ is the integer cross-multiply
    cum·10 >= (n+1)·9 over a residual-value census — no engine ever
    sorts raw rows; the census is bounded by the price-range domain
    (<=1e7 distinct cents for TPC-H prices), and the running-rank
    window rides that aggregated census.

    100 TB: three conditional-aggregate passes over one scan shape
    (train moments, calibration census, test coverage) + a 1-row
    coefficient broadcast — the classic 'fit small, score wide' plan."""
    pts = (
        table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") % 3).alias("split"),
            F.col("l_quantity").cast("bigint").alias("x"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("y"),
        )
        .localCheckpoint(eager=False)  # train + calibration + test passes
    )
    d38 = "decimal(38,0)"
    fit = pts.filter(F.col("split") == 0).agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast(d38).alias("sxy"),
    )
    b = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    b6 = F.floor(b * 1e6 + F.lit(0.5)).cast("bigint")
    a_c = F.floor(
        (
            F.col("sy").cast("double")
            - b6 / F.lit(1e6) * F.col("sx").cast("double")
        )
        / F.col("n").cast("double")
        + F.lit(0.5)
    ).cast("bigint")
    coef = fit.select(b6.alias("b6"), a_c.alias("a_c"))
    resid = F.abs(
        F.col("y")
        - (
            F.col("a_c")
            + F.floor(F.col("b6") / F.lit(1e6) * F.col("x") + F.lit(0.5)).cast(
                "bigint"
            )
        )
    )
    cal = (
        pts.filter(F.col("split") == 1)
        .crossJoin(F.broadcast(coef))
        .select(resid.alias("r_c"))
    )
    census = cal.groupBy("r_c").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wr = Window.orderBy("r_c").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("r_c").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = census.select(
        "r_c",
        F.sum("c").over(wr).alias("cum"),
        F.sum("c").over(wall).alias("n_cal"),
    )
    q = ranked.agg(
        F.min("n_cal").alias("n_cal"),
        F.min(
            F.when(
                F.col("cum") * 10 >= (F.col("n_cal") + 1) * 9, F.col("r_c")
            )
        ).alias("q_cents"),
    )
    test = (
        pts.filter(F.col("split") == 2)
        .crossJoin(F.broadcast(coef))
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            fround(
                F.avg(
                    F.when(resid <= F.col("q_cents"), F.lit(1.0)).otherwise(
                        F.lit(0.0)
                    )
                ),
                6,
            ).alias("coverage"),
        )
    )
    return (
        q.crossJoin(F.broadcast(test))
        .crossJoin(F.broadcast(coef))
        .select(
            "n_cal",
            "q_cents",
            "n_test",
            "coverage",
            fround(F.col("b6") / F.lit(1e6), 6).alias("slope_cents_per_unit"),
        )
    )


@query(
    "date_business_day_sla",
    oracle="""
    WITH g AS (
      SELECT o.o_orderpriority AS priority,
             5 * ((date_diff('day', DATE '1970-01-01', l.l_shipdate) + 3) // 7)
               + least((date_diff('day', DATE '1970-01-01', l.l_shipdate) + 3) % 7, 4)
             - (5 * ((date_diff('day', DATE '1970-01-01', o.o_orderdate) + 3) // 7)
               + least((date_diff('day', DATE '1970-01-01', o.o_orderdate) + 3) % 7, 4))
               AS bd
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           floor(avg(bd) * 1e6 + 0.5) / 1e6 AS avg_business_days,
           CAST(max(bd) AS BIGINT) AS max_business_days,
           CAST(count_if(bd > 60) AS BIGINT) AS n_breach_60bd
    FROM g GROUP BY priority ORDER BY priority
    """,
)
def date_business_day_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day SLA arithmetic: shipping lag from order date to line
    ship date counted in WEEKDAYS only, via the closed-form business-day
    index g(d) = 5·⌊(e+3)/7⌋ + min((e+3) mod 7, 4) where e = days since
    1970-01-01 (the +3 aligns Monday to 0 — 1970-01-01 was a Thursday).
    g increments Mon-Fri and is flat Sat/Sun, so g(ship) − g(order) is
    the exact weekday count in [order, ship) — no calendar table, no
    per-day explode, no engine-specific day-of-week convention (both
    engines share the same epoch-day arithmetic).

    100 TB: one orderkey equi-join + a priority-keyed aggregate; the
    business-day math is scan-stage integer arithmetic inside codegen."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority"), "o_orderdate"
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")

    def g(d):
        e = F.datediff(d, F.lit("1970-01-01").cast("date")) + 3
        return 5 * F.floor(e / 7).cast("bigint") + F.least(
            (e % 7).cast("bigint"), F.lit(4)
        )

    j = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
        "priority", (g(F.col("l_shipdate")) - g(F.col("o_orderdate"))).alias("bd")
    )
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            fround(F.avg("bd"), 6).alias("avg_business_days"),
            F.max("bd").cast("bigint").alias("max_business_days"),
            F.count_if(F.col("bd") > 60).cast("bigint").alias("n_breach_60bd"),
        )
        .orderBy("priority")
    )


@query(
    "promql_increase_extrapolated",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             date_trunc('hour', ts) AS hr,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) % 100000
               AS counter_cents
      FROM events WHERE value IS NOT NULL
    ),
    d AS (
      SELECT user_id, hr, counter_cents, epoch_us(ts) AS t_us,
             row_number() OVER (PARTITION BY user_id, hr
                                ORDER BY ts, event_id) AS rn,
             counter_cents - lag(counter_cents)
               OVER (PARTITION BY user_id, hr ORDER BY ts, event_id) AS delta
      FROM s
    ),
    agg AS (
      SELECT user_id, hr,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(count_if(delta < 0) AS BIGINT) AS n_resets,
             CAST(min(t_us) AS BIGINT) AS first_us,
             CAST(max(t_us) AS BIGINT) AS last_us,
             CAST(coalesce(sum(CASE WHEN delta IS NULL THEN 0
                                    WHEN delta < 0 THEN counter_cents
                                    ELSE delta END), 0) AS BIGINT)
               AS increase_cents,
             CAST(epoch_us(min(hr)) AS BIGINT) AS start_us
      FROM d GROUP BY 1, 2
    ),
    x AS (
      SELECT *,
             CAST(last_us - first_us AS DOUBLE) AS sampled,
             CAST(last_us - first_us AS DOUBLE) / (n_samples - 1) AS avg_us,
             CAST(first_us - start_us AS DOUBLE) AS d_start,
             CAST(start_us + 3600000000 - last_us AS DOUBLE) AS d_end
      FROM agg WHERE n_samples >= 2 AND last_us > first_us
    )
    SELECT user_id, hr, n_samples, n_resets, increase_cents,
           floor(increase_cents
                 * ((sampled
                     + (CASE WHEN d_start < 1.1 * avg_us
                             THEN d_start ELSE avg_us / 2 END)
                     + (CASE WHEN d_end < 1.1 * avg_us
                             THEN d_end ELSE avg_us / 2 END))
                    / sampled)
                 / 100 * 1e6 + 0.5) / 1e6 AS increase_extrapolated
    FROM x ORDER BY user_id, hr
    """,
)
def promql_increase_extrapolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL increase() with the REAL extrapolation algorithm (the
    published extrapolatedRate: Prometheus docs / promql functions
    semantics) — the part `promql_rate_counter_resets` (relational32.py)
    deliberately leaves out. Per (series, 1h range): the reset-corrected
    in-range delta is EXTRAPOLATED to the window boundaries — by the
    actual gap when the first/last sample sits within 1.1× the average
    sample interval of the boundary, by half an average interval
    otherwise (the algorithm's guard against overshooting when the
    series starts or ends mid-window). The un-extrapolated integer-cent
    increase ships alongside, so the correction itself is visible.

    Exactness: the sawtooth counter fixture, deltas, and reset
    corrections are BIGINT end-to-end; timestamps are integer µs; the
    extrapolation factor is the only double and is derived identically
    on both engines from the same integers.

    100 TB: one series-keyed cumulative window + one (series, hour)
    aggregate — the standard TSDB range-evaluation shape; every range
    evaluates independently."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    wcum = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "ts",
        "event_id",
        F.date_trunc("hour", "ts").alias("hr"),
        (F.sum(cents).over(wcum) % 100000).alias("counter_cents"),
    )
    whr = Window.partitionBy("user_id", "hr").orderBy("ts", "event_id")
    d = s.select(
        "user_id",
        "hr",
        "counter_cents",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        (F.col("counter_cents") - F.lag("counter_cents").over(whr)).alias(
            "delta"
        ),
    )
    agg = (
        d.groupBy("user_id", "hr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.count_if(F.col("delta") < 0).cast("bigint").alias("n_resets"),
            F.min("t_us").cast("bigint").alias("first_us"),
            F.max("t_us").cast("bigint").alias("last_us"),
            F.coalesce(
                F.sum(
                    F.when(F.col("delta").isNull(), F.lit(0))
                    .when(F.col("delta") < 0, F.col("counter_cents"))
                    .otherwise(F.col("delta"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("increase_cents"),
            F.unix_micros(F.min("hr").cast("timestamp"))
            .cast("bigint")
            .alias("start_us"),
        )
        .where((F.col("n_samples") >= 2) & (F.col("last_us") > F.col("first_us")))
    )
    sampled = (F.col("last_us") - F.col("first_us")).cast("double")
    avg_us = sampled / (F.col("n_samples") - 1)
    d_start = (F.col("first_us") - F.col("start_us")).cast("double")
    d_end = (F.col("start_us") + 3600000000 - F.col("last_us")).cast("double")
    extrap = (
        sampled
        + F.when(d_start < 1.1 * avg_us, d_start).otherwise(avg_us / 2)
        + F.when(d_end < 1.1 * avg_us, d_end).otherwise(avg_us / 2)
    )
    return agg.select(
        "user_id",
        "hr",
        "n_samples",
        "n_resets",
        "increase_cents",
        fround(F.col("increase_cents") * (extrap / sampled) / 100, 6).alias(
            "increase_extrapolated"
        ),
    ).orderBy("user_id", "hr")
