"""Round 11 batch 2: STL-lite seasonal/trend strength, Platt scaling,
PromQL holt_winters (double exponential smoothing), and k-truss edge
peeling — DuckDB-oracle-checked.

Reference parity note: /root/reference has none of these; §2.3
north-star territory. Methods are public: Wang, Smith & Hyndman 2006
(STL strength measures), Platt 1999 (sigmoid calibration with the
(N+1)/(N+2) targets), PromQL's published holt_winters (double
exponential smoothing, Holt 1957), Cohen 2008 (k-truss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rounds import rounds
from .core import fround, name_graph, newton_logit, newton_logit_sql, query, table, triangles

# --- STL-lite seasonal/trend strength --------------------------------------------

_STL_ORACLE = """
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY o_orderdate
    ),
    ma AS (
      SELECT day, x, CAST(isodow(day) - 1 AS INT) AS dow,
             CAST(sum(x) OVER w AS BIGINT) AS s7,
             CAST(count(*) OVER w AS BIGINT) AS c7
      FROM d
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    valid AS (
      -- n7 = 7*x - sum7 is the EXACT integer numerator of 7*detrended
      SELECT day, x, dow, 7 * x - s7 AS n7 FROM ma WHERE c7 = 7
    ),
    dows AS (
      SELECT dow, CAST(sum(n7) AS BIGINT) AS sg,
             CAST(count(*) AS BIGINT) AS cg
      FROM valid GROUP BY dow
    ),
    terms AS (
      -- dollar-scale doubles from exact integer numerators; squares
      -- quantized at 1e0 (then ~2.4e17 max), linear sums at 1e6
      SELECT
        CAST(floor((CAST(v.n7 AS DOUBLE) / 700.0)
                   * (CAST(v.n7 AS DOUBLE) / 700.0)) AS BIGINT) AS dt2_q,
        CAST(floor((CAST(v.n7 AS DOUBLE) / 700.0) * 1e6) AS BIGINT) AS dt_q,
        CAST(floor(((CAST(w.cg AS DOUBLE) * v.n7 - w.sg)
                    / (700.0 * w.cg))
                   * ((CAST(w.cg AS DOUBLE) * v.n7 - w.sg)
                      / (700.0 * w.cg))) AS BIGINT) AS r2_q,
        CAST(floor(((CAST(w.cg AS DOUBLE) * v.n7 - w.sg)
                    / (700.0 * w.cg)) * 1e6) AS BIGINT) AS r_q,
        CAST(floor(((7.0 * w.cg * v.x - w.sg) / (700.0 * w.cg))
                   * ((7.0 * w.cg * v.x - w.sg) / (700.0 * w.cg)))
             AS BIGINT) AS tr2_q,
        CAST(floor(((7.0 * w.cg * v.x - w.sg) / (700.0 * w.cg)) * 1e6)
             AS BIGINT) AS tr_q
      FROM valid v JOIN dows w USING (dow)
    ),
    folds AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dt2_q) AS BIGINT) AS sdt2,
             CAST(sum(dt_q) AS BIGINT) AS sdt,
             CAST(sum(r2_q) AS BIGINT) AS sr2,
             CAST(sum(r_q) AS BIGINT) AS sr,
             CAST(sum(tr2_q) AS BIGINT) AS str2,
             CAST(sum(tr_q) AS BIGINT) AS str
      FROM terms
    )
    SELECT n AS n_days_used,
           floor((CAST(sr2 AS DOUBLE) / n
                  - (CAST(sr AS DOUBLE) / 1e6 / n)
                    * (CAST(sr AS DOUBLE) / 1e6 / n)) * 1e2 + 0.5) / 1e2
             AS var_remainder,
           floor((CAST(sdt2 AS DOUBLE) / n
                  - (CAST(sdt AS DOUBLE) / 1e6 / n)
                    * (CAST(sdt AS DOUBLE) / 1e6 / n)) * 1e2 + 0.5) / 1e2
             AS var_detrended,
           floor((CAST(str2 AS DOUBLE) / n
                  - (CAST(str AS DOUBLE) / 1e6 / n)
                    * (CAST(str AS DOUBLE) / 1e6 / n)) * 1e2 + 0.5) / 1e2
             AS var_deseasonalized,
           floor(greatest(0.0, 1.0 -
                  (CAST(sr2 AS DOUBLE) / n
                   - (CAST(sr AS DOUBLE) / 1e6 / n)
                     * (CAST(sr AS DOUBLE) / 1e6 / n))
                  / (CAST(str2 AS DOUBLE) / n
                     - (CAST(str AS DOUBLE) / 1e6 / n)
                       * (CAST(str AS DOUBLE) / 1e6 / n)))
                 * 1e6 + 0.5) / 1e6 AS f_trend,
           floor(greatest(0.0, 1.0 -
                  (CAST(sr2 AS DOUBLE) / n
                   - (CAST(sr AS DOUBLE) / 1e6 / n)
                     * (CAST(sr AS DOUBLE) / 1e6 / n))
                  / (CAST(sdt2 AS DOUBLE) / n
                     - (CAST(sdt AS DOUBLE) / 1e6 / n)
                       * (CAST(sdt AS DOUBLE) / 1e6 / n)))
                 * 1e6 + 0.5) / 1e6 AS f_seasonal
    FROM folds
    """


@query("timeseries_stl_strength", oracle=_STL_ORACLE)
def timeseries_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite trend/seasonal strength (Wang, Smith & Hyndman 2006):
    decompose daily revenue into trend (centered 7-day moving average,
    edge days excluded), day-of-week seasonal means of the detrended
    series, and remainder; then F_t = max(0, 1−Var(R)/Var(T+R)) and
    F_s = max(0, 1−Var(R)/Var(S+R)) — the two numbers a forecasting
    pipeline reads to decide whether a series deserves seasonal
    modeling at all. Exactness: the decomposition is carried as EXACT
    integer numerators over common denominators (7·detrended = 7x−Σ₇x
    in cents; remainder numerator cg·n7−Sg), converted to dollar-scale
    doubles only inside the per-term-quantized variance folds (squares
    at 1e0, linear sums at 1e6). Day-of-week via Spark weekday() =
    DuckDB isodow−1 (Monday=0 on both).

    100 TB: daily census is calendar-bounded; one bounded ±3-row
    window, one 7-group aggregate, one quantized reduction.

    Ref cite: none — §2.3 territory."""
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    ma = d.select(
        "day",
        "x",
        F.weekday("day").cast("int").alias("dow"),
        F.sum("x").over(w).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("c7"),
    )
    valid = (
        ma.where(F.col("c7") == 7)
        .select("day", "x", "dow", (7 * F.col("x") - F.col("s7")).alias("n7"))
        .localCheckpoint(eager=False)  # dow means + terms ride it
    )
    dows = valid.groupBy("dow").agg(
        F.sum("n7").cast("bigint").alias("sg"),
        F.count(F.lit(1)).cast("bigint").alias("cg"),
    )
    j = valid.join(F.broadcast(dows), "dow")
    dt = F.col("n7").cast("double") / 700.0
    r = (
        (F.col("cg").cast("double") * F.col("n7") - F.col("sg"))
        / (700.0 * F.col("cg"))
    )
    tr = (
        (7.0 * F.col("cg") * F.col("x") - F.col("sg"))
        / (700.0 * F.col("cg"))
    )
    terms = j.select(
        F.floor(dt * dt).cast("bigint").alias("dt2_q"),
        F.floor(dt * 1e6).cast("bigint").alias("dt_q"),
        F.floor(r * r).cast("bigint").alias("r2_q"),
        F.floor(r * 1e6).cast("bigint").alias("r_q"),
        F.floor(tr * tr).cast("bigint").alias("tr2_q"),
        F.floor(tr * 1e6).cast("bigint").alias("tr_q"),
    )
    folds = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dt2_q").cast("bigint").alias("sdt2"),
        F.sum("dt_q").cast("bigint").alias("sdt"),
        F.sum("r2_q").cast("bigint").alias("sr2"),
        F.sum("r_q").cast("bigint").alias("sr"),
        F.sum("tr2_q").cast("bigint").alias("str2"),
        F.sum("tr_q").cast("bigint").alias("str"),
    )
    nd = F.col("n").cast("double")

    def var(s2col: str, scol: str):
        mean = F.col(scol).cast("double") / 1e6 / nd
        return F.col(s2col).cast("double") / nd - mean * mean

    vr, vdt, vtr = var("sr2", "sr"), var("sdt2", "sdt"), var("str2", "str")
    return folds.select(
        F.col("n").alias("n_days_used"),
        fround(vr, 2).alias("var_remainder"),
        fround(vdt, 2).alias("var_detrended"),
        fround(vtr, 2).alias("var_deseasonalized"),
        fround(F.greatest(F.lit(0.0), F.lit(1.0) - vr / vtr), 6).alias(
            "f_trend"
        ),
        fround(F.greatest(F.lit(0.0), F.lit(1.0) - vr / vdt), 6).alias(
            "f_seasonal"
        ),
    )


# --- Platt scaling ---------------------------------------------------------------

_PLATT_ITERS = 2

_PLATT_ORACLE = (
    """
    WITH raw AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CAST(l_quantity AS BIGINT) AS x
      FROM lineitem
    ),
    cls AS MATERIALIZED (
      SELECT CAST(sum(y) AS BIGINT) AS np,
             CAST(count(*) - sum(y) AS BIGINT) AS nn
      FROM raw
    ),
    obs AS MATERIALIZED (
      -- Platt 1999 soft targets from EXACT class counts, quantized to
      -- integer micro-units once: t+ = (np+1)/(np+2), t- = 1/(nn+2)
      SELECT r.y, r.x,
             CASE WHEN r.y = 1
               THEN CAST(floor((CAST(c.np AS DOUBLE) + 1)
                               / (CAST(c.np AS DOUBLE) + 2) * 1e6 + 0.5)
                         AS BIGINT)
               ELSE CAST(floor(1.0 / (CAST(c.nn AS DOUBLE) + 2) * 1e6 + 0.5)
                         AS BIGINT)
             END AS tq
      FROM raw r CROSS JOIN cls c
    ),
    it0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS b0q,
                                CAST(0 AS BIGINT) AS b1q),
    """
    + ",".join(
        newton_logit_sql(f"it{i}", f"it{i + 1}", "o.tq") for i in range(_PLATT_ITERS)
    )
    + f"""
    SELECT CAST((SELECT count(*) FROM obs) AS BIGINT) AS n,
           (SELECT np FROM cls) AS n_pos,
           b.b0q AS b0_q, b.b1q AS b1_q,
           CAST(floor(1.0 / (1.0 + exp(-(b.b0q + b.b1q * 25) / 1e6))
                      * 1e6 + 0.5) AS BIGINT) AS p_at_25_q
    FROM it{_PLATT_ITERS} b
    """
)


@query("ml_platt_scaling", oracle=_PLATT_ORACLE)
def ml_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling (Platt 1999): calibrate a raw score (line-item
    quantity) into P(returned) by fitting σ(b₁·s + b₀) with Newton
    steps — distinguished from plain logistic regression
    (ml_logistic_newton2) by Platt's regularizing SOFT TARGETS
    t₊ = (N₊+1)/(N₊+2), t₋ = 1/(N₋+2) derived from exact class counts,
    which keep the fit from saturating on separable data. The targets
    quantize to integer micro-units once; the Newton step is the
    logistic trainer's (``core.newton_logit``, target ``tq``).

    100 TB: per iteration ONE map-side-combinable aggregate (5 integer
    sums) + a 1-row parameter broadcast — distributed IRLS.

    Ref cite: none — §2.3 ML territory."""
    li = table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    cls = raw.agg(
        F.sum("y").cast("bigint").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("nn"),
    )
    tq = F.when(
        F.col("y") == 1,
        F.floor(
            (F.col("np").cast("double") + 1)
            / (F.col("np").cast("double") + 2)
            * 1e6
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(
        F.floor(
            F.lit(1.0) / (F.col("nn").cast("double") + 2) * 1e6 + F.lit(0.5)
        ).cast("bigint")
    )
    obs = (
        raw.crossJoin(F.broadcast(cls))
        .select("y", "x", tq.alias("tq"), "np")
        .localCheckpoint(eager=False)  # both iterations + final probe
    )
    params = newton_logit(obs, F.col("tq"), _PLATT_ITERS)
    n_row = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.any_value("np").cast("bigint").alias("n_pos"),
    )
    p25 = F.floor(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(-(F.col("b0q") + F.col("b1q") * 25) / F.lit(1e6))
        )
        * 1e6
        + F.lit(0.5)
    ).cast("bigint")
    return n_row.crossJoin(F.broadcast(params)).select(
        "n",
        "n_pos",
        F.col("b0q").alias("b0_q"),
        F.col("b1q").alias("b1_q"),
        p25.alias("p_at_25_q"),
    )


# --- PromQL holt_winters (double exponential smoothing) --------------------------

_HW_SF, _HW_TF = 0.3, 0.1

_HW_ORACLE = f"""
    WITH RECURSIVE grid AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY date_trunc('hour', ts)) AS i,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / (100.0 * count(*)) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, date_trunc('hour', ts)
    ),
    lens AS (
      SELECT event_type, CAST(max(i) AS BIGINT) AS n FROM grid
      GROUP BY event_type
    ),
    it AS (
      SELECT g1.event_type, CAST(1 AS BIGINT) AS i,
             g1.v AS s, g2.v - g1.v AS b
      FROM grid g1 JOIN grid g2
        ON g1.event_type = g2.event_type AND g1.i = 1 AND g2.i = 2
      UNION ALL
      SELECT it.event_type, it.i + 1,
             {_HW_SF} * g.v + {1 - _HW_SF} * (it.s + it.b),
             {_HW_TF} * (({_HW_SF} * g.v + {1 - _HW_SF} * (it.s + it.b))
                         - it.s)
               + {1 - _HW_TF} * it.b
      FROM it JOIN grid g
        ON g.event_type = it.event_type AND g.i = it.i + 1
    )
    SELECT it.event_type, l.n AS n_points,
           floor(it.s * 1e6 + 0.5) / 1e6 AS smoothed,
           floor(it.b * 1e9 + 0.5) / 1e9 AS trend
    FROM it JOIN lens l
      ON it.event_type = l.event_type AND it.i = l.n
    ORDER BY it.event_type
    """


@query("promql_holt_winters", oracle=_HW_ORACLE)
def promql_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``holt_winters()`` / double exponential smoothing (Holt
    1957; Prometheus' published smoothed-value recurrence): per series,
    s₁ = v₁, b₁ = v₂−v₁, then sᵢ = sf·vᵢ + (1−sf)(sᵢ₋₁+bᵢ₋₁) and
    bᵢ = tf·(sᵢ−sᵢ₋₁) + (1−tf)bᵢ₋₁ over the hourly means with
    sf=0.3, tf=0.1; the final (s, b) is the level/trend forecast state
    per event_type. The recurrence is inherently sequential IN TIME
    but parallel ACROSS series — the Spark plan collects each series'
    calendar-bounded hourly vector and folds it JVM-side with
    ``F.aggregate`` (one struct accumulator, no Python), while the
    oracle runs the identical recurrence as a recursive CTE. Hourly
    means derive from exact integer cent sums, so both engines fold
    identical doubles through identical IEEE expressions.

    100 TB: one (series, hour) aggregate with map-side combine, one
    shuffle to series, a per-series fold bounded by the calendar.
    Series count scales freely; series LENGTH is the bounded axis —
    the same contract every per-series PromQL operator here has.

    Ref cite: none — §2.3 PromQL-parity territory."""
    e = table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    grid = (
        e.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(
            (
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                ).cast("double")
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("v")
        )
    )
    arrs = grid.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("h"), F.col("v")))
        ).alias("hv")
    )
    vs = arrs.select(
        "event_type",
        F.transform(F.col("hv"), lambda s: s["v"]).alias("vs"),
    )
    sf, tf = F.lit(_HW_SF), F.lit(_HW_TF)
    init = F.struct(
        F.col("vs").getItem(0).alias("s"),
        (F.col("vs").getItem(1) - F.col("vs").getItem(0)).alias("b"),
    )
    # fold v_2..v_n (1-based) through the Holt recurrence; new_s appears
    # twice, so bind it via a nested struct rather than recompute
    def step(acc, v):
        new_s = sf * v + (F.lit(1.0) - sf) * (acc["s"] + acc["b"])
        return F.struct(
            new_s.alias("s"),
            (tf * (new_s - acc["s"]) + (F.lit(1.0) - tf) * acc["b"]).alias(
                "b"
            ),
        )

    fin = F.aggregate(
        F.slice(F.col("vs"), 2, F.size("vs") - 1), init, step
    )
    return vs.select(
        "event_type",
        F.size("vs").cast("bigint").alias("n_points"),
        fround(fin["s"], 6).alias("smoothed"),
        fround(fin["b"], 9).alias("trend"),
    ).orderBy("event_type")


# --- k-truss edge peeling ---------------------------------------------------------

_TRUSS_K = 4          # keep edges supported by >= k-2 = 2 triangles
_TRUSS_ROUNDS = 4     # unrolled peel rounds; certificate pins convergence


def _truss_round_sql(prev: str, this: str) -> str:
    return f"""
    tri_{this} AS MATERIALIZED (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM {prev} e1
      JOIN {prev} e2 ON e2.src = e1.dst
      JOIN {prev} e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    sup_{this} AS MATERIALIZED (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS s FROM (
        SELECT a AS src, b AS dst FROM tri_{this}
        UNION ALL SELECT b AS src, c AS dst FROM tri_{this}
        UNION ALL SELECT a AS src, c AS dst FROM tri_{this}
      ) GROUP BY src, dst
    ),
    {this} AS MATERIALIZED (
      SELECT e.src, e.dst, e.blk
      FROM {prev} e JOIN sup_{this} s
        ON e.src = s.src AND e.dst = s.dst
      WHERE s.s >= {_TRUSS_K - 2}
    )"""


_TRUSS_ORACLE = (
    """
    WITH nm AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    e0 AS MATERIALIZED (
      SELECT a.p_name AS src, b.p_name AS dst, a.blk
      FROM nm a JOIN nm b
        ON a.blk = b.blk AND a.p_name < b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    """
    + ",".join(
        _truss_round_sql(f"e{i}", f"e{i + 1}") for i in range(_TRUSS_ROUNDS)
    )
    + f"""
    SELECT z.blk,
           CAST(count(*) AS BIGINT) AS n_edges_0,
           CAST(count(f.src) AS BIGINT) AS n_edges_truss,
           CAST(count(p.src) AS BIGINT) = CAST(count(f.src) AS BIGINT)
             AS converged
    FROM e0 z
    LEFT JOIN e{_TRUSS_ROUNDS} f ON z.src = f.src AND z.dst = f.dst
    LEFT JOIN e{_TRUSS_ROUNDS - 1} p ON z.src = p.src AND z.dst = p.dst
    GROUP BY z.blk
    ORDER BY z.blk
    """
)


@query("graph_ktruss_edges", oracle=_TRUSS_ORACLE)
def graph_ktruss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the name-similarity graph (Cohen 2008): iteratively
    peel edges supported by fewer than k−2 = 2 triangles until the
    remainder is the maximal subgraph where EVERY edge sits in ≥2
    triangles — the cohesion screen between triangle counting (one
    number) and full clique finding (NP-hard); in a dedup pipeline the
    truss separates genuine duplicate cliques from levenshtein chains.
    Peeling reuses the ORIENTED-edge triangle scheme
    (``core.triangles``, as graph_triangle_count): each triangle a<b<c
    is found once by the two-path + closing-edge join and credits all
    three edges. Four rounds unroll in ONE lazy plan (no convergence
    actions; the per-block ``converged`` column certifies round 3 =
    round 4 IN the hash), and the block is read off the source name
    only in the final group. Integer-exact throughout.

    100 TB: per round one self-join bounded by block-local degree (the
    levenshtein blocks cap fan-out) + one edge-keyed count; lineage is
    cut per round with lazy checkpoints. Degree-oriented edges (the
    arboricity bound) are the documented dial if blocks ever skew.

    Ref cite: none — §2.3 graph territory."""
    _, e = name_graph(spark, sf_dir)
    e0 = e.filter(F.col("src") < F.col("dst")).select("src", "dst")

    def step(cur: DataFrame) -> DataFrame:
        tri = triangles(cur)
        sup = (
            tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(
                tri.select(F.col("b").alias("src"), F.col("c").alias("dst"))
            )
            .unionAll(
                tri.select(F.col("a").alias("src"), F.col("c").alias("dst"))
            )
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
            .where(F.col("s") >= _TRUSS_K - 2)
        )
        return cur.join(sup.select("src", "dst"), ["src", "dst"])

    edges = rounds(e0, step, _TRUSS_ROUNDS)
    fin = edges[-1].select(
        F.col("src").alias("fsrc"), F.col("dst").alias("fdst")
    )
    pen = edges[-2].select(
        F.col("src").alias("psrc"), F.col("dst").alias("pdst")
    )
    z = (
        e0.join(
            fin,
            (F.col("src") == F.col("fsrc")) & (F.col("dst") == F.col("fdst")),
            "left",
        )
        .join(
            pen,
            (F.col("src") == F.col("psrc")) & (F.col("dst") == F.col("pdst")),
            "left",
        )
    )
    return (
        z.groupBy(F.split("src", " ").getItem(1).alias("blk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges_0"),
            F.count("fsrc").cast("bigint").alias("n_edges_truss"),
            (F.count("psrc") == F.count("fsrc")).alias("converged"),
        )
        .orderBy("blk")
    )
