"""Round 10 batch: Cochran–Armitage trend test, functional-dependency
profiling, graph modularity, and PromQL quantile_over_time — all
integer-moment exact or exact-rational deterministic, every one
DuckDB-oracle-checked.

Reference parity note: /root/reference (main.go:1-145, query.go:1-289,
metrics.go:1-75) has none of these surfaces; §2.3 north-star territory.
Methods are public: Cochran 1954 / Armitage 1955 (trend in
proportions), FD discovery as in data-profiling literature (TANE et
al.), Newman & Girvan 2004 modularity, and the published PromQL
quantile() positional-interpolation convention (phi * (n-1), linear
between the two bracketing samples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import min_label_rounds
from .core import fround, name_graph, query, table
from .relational26 import _LP_SQL_GRAPH
from .relational42 import _cc_round_sql

# --- Cochran–Armitage trend test ---------------------------------------------

_CA_ORACLE = """
    WITH g AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS r
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
             CAST(sum(s * r) AS BIGINT) AS sr,
             CAST(sum(s * n) AS BIGINT) AS sn,
             CAST(sum(s * s * n) AS BIGINT) AS ssn,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    )
    SELECT nn AS n, rr AS successes, k AS n_groups,
           nn * sr - rr * sn AS t_num,
           floor((nn * sr - rr * sn)
                 / sqrt(CAST(rr AS DOUBLE) * (nn - rr)
                        * (CAST(nn AS DOUBLE) * ssn - CAST(sn AS DOUBLE) * sn)
                        / nn)
                 * 1e6 + 0.5) / 1e6 AS z_trend
    FROM m
    """


@query("stats_cochran_armitage", oracle=_CA_ORACLE)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for trend in proportions (Cochran 1954,
    Armitage 1955): is the fraction of finished orders monotonically
    associated with the ordered priority score (1-URGENT .. 5-LOW)?
    z = (N*Σs_i r_i - R*Σs_i n_i) / sqrt(R(N-R)(N*Σs_i²n_i -
    (Σs_i n_i)²)/N). Every moment is an exact BIGINT; the numerator is
    emitted as an exact integer (t_num) alongside the rounded z, so the
    hash pins the statistic itself, not only its float image.

    100 TB: one map-side-combinable groupBy over 5 priority cells, one
    1-row moment fold. No windows, no joins, no rescans."""
    g = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_if(F.col("o_orderstatus") == "F").cast("bigint").alias("r"),
        )
    )
    m = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("r").cast("bigint").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("bigint").alias("sr"),
        F.sum(F.col("s") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).cast("bigint").alias("ssn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    t_num = F.col("nn") * F.col("sr") - F.col("rr") * F.col("sn")
    var = (
        F.col("rr").cast("double")
        * (F.col("nn") - F.col("rr"))
        * (
            F.col("nn").cast("double") * F.col("ssn")
            - F.col("sn").cast("double") * F.col("sn")
        )
        / F.col("nn")
    )
    return m.select(
        F.col("nn").alias("n"),
        F.col("rr").alias("successes"),
        F.col("k").alias("n_groups"),
        t_num.alias("t_num"),
        fround(t_num / F.sqrt(var), 6).alias("z_trend"),
    )


# --- functional-dependency profiling -------------------------------------------

_FD_PAIRS = (
    ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
    ("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus"),
    ("o_orderstatus->o_orderpriority", "o_orderstatus", "o_orderpriority"),
    ("o_orderpriority->o_orderstatus", "o_orderpriority", "o_orderstatus"),
)

_FD_ORACLE = f"""
    WITH long AS (
      {' UNION ALL '.join(
          f"SELECT '{fd}' AS fd, CAST({lhs} AS VARCHAR) AS lhs,"
          f" CAST({rhs} AS VARCHAR) AS rhs FROM orders"
          for fd, lhs, rhs in _FD_PAIRS)}
    ),
    per_lhs AS (
      SELECT fd, lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS nd,
             CAST(count(*) AS BIGINT) AS rows_
      FROM long GROUP BY fd, lhs
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS lhs_groups,
           CAST(count(*) FILTER (nd > 1) AS BIGINT) AS violating_groups,
           CAST(sum(CASE WHEN nd > 1 THEN rows_ ELSE 0 END) AS BIGINT)
             AS violating_rows,
           count(*) FILTER (nd > 1) = 0 AS holds
    FROM per_lhs GROUP BY fd ORDER BY fd
    """


@query("dq_functional_dependency", oracle=_FD_ORACLE)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (the TANE-style census a data
    profiler runs before schema inference): for each candidate FD
    lhs -> rhs over orders, count the lhs groups whose rhs is not
    unique. The key dependency o_orderkey -> o_custkey HOLDS while the
    three attribute-level candidates are violated (probed: 1492 / 3 / 5
    violating groups at sf0.01) — both verdict branches live. All
    counts exact; lhs/rhs stringified so one long frame carries mixed
    source types on both engines identically.

    100 TB: the 4-way stack is one scan (column-pruned to 4 columns);
    the distinct-count per lhs is a two-level map-side-combinable
    aggregate keyed (fd, lhs) — the standard distinct rewrite, no
    windows."""
    p = table(spark, sf_dir, "orders")
    # one scan: stack the 4 candidate pairs row-wise instead of a union
    stack_args = ", ".join(
        f"'{fd}', cast({lhs} as string), cast({rhs} as string)"
        for fd, lhs, rhs in _FD_PAIRS
    )
    longs = p.select(
        F.expr(f"stack({len(_FD_PAIRS)}, {stack_args}) as (fd, lhs, rhs)")
    )
    per_lhs = longs.groupBy("fd", "lhs").agg(
        F.count_distinct("rhs").cast("bigint").alias("nd"),
        F.count(F.lit(1)).cast("bigint").alias("rows_"),
    )
    return (
        per_lhs.groupBy("fd")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("lhs_groups"),
            F.count_if(F.col("nd") > 1).cast("bigint").alias("violating_groups"),
            F.sum(F.when(F.col("nd") > 1, F.col("rows_")).otherwise(0))
            .cast("bigint")
            .alias("violating_rows"),
            (F.count_if(F.col("nd") > 1) == 0).alias("holds"),
        )
        .orderBy("fd")
    )


# --- graph modularity of the CC partition ---------------------------------------

_MOD_ORACLE = f"""
    WITH {_LP_SQL_GRAPH},
    c0 AS MATERIALIZED (SELECT p_name, p_name AS label FROM nm),
    {_cc_round_sql('c0', 'c1')},{_cc_round_sql('c1', 'c2')},{_cc_round_sql('c2', 'c3')},{_cc_round_sql('c3', 'c4')}
    ,
    lab AS MATERIALIZED (SELECT p_name, label FROM c4),
    e2 AS MATERIALIZED (
      SELECT la.label AS cl_a, lb.label AS cl_b
      FROM e JOIN lab la ON la.p_name = e.src
             JOIN lab lb ON lb.p_name = e.dst
    ),
    per_c AS (
      SELECT cl_a AS c, CAST(count(*) FILTER (cl_a = cl_b) AS BIGINT) AS e_in,
             CAST(count(*) AS BIGINT) AS d_c
      FROM e2 GROUP BY cl_a
    ),
    tot AS (SELECT CAST(sum(d_c) AS BIGINT) AS m2 FROM per_c)
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           any_value(m2) // 2 AS n_edges,
           floor(sum(CAST(e_in AS DOUBLE) / m2
                     - (CAST(d_c AS DOUBLE) / m2) * (CAST(d_c AS DOUBLE) / m2))
                 * 1e9 + 0.5) / 1e9 AS modularity
    FROM per_c CROSS JOIN tot
    """


@query("graph_modularity_score", oracle=_MOD_ORACLE)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman–Girvan modularity (2004, eq. 5) of the connected-component
    partition over the shared part-name similarity graph: Q = Σ_c
    [e_c/|E| - (d_c/|E|)²] with both edge directions present (|E| = 2m).
    Components come from the same 4-round synchronous min-label
    propagation graph_connected_components certifies; e_c (within-edges)
    and d_c (degree mass) are exact BIGINT censuses, so Q is one
    deterministic double fold over the per-community frame.

    100 TB: label rounds shuffle O(edges) slim pairs with map-side min
    combining (lineage cut per round); the modularity censuses are one
    groupBy over edges joined to labels on the same node-keyed exchange
    the CC rounds already use; the Q fold is community-count-sized."""
    nm, e = name_graph(spark, sf_dir)
    seed = nm.select(F.col("p_name").alias("id"), F.col("p_name").alias("label"))
    lab = min_label_rounds(e, seed, 4)
    la = lab.select(F.col("id").alias("src"), F.col("label").alias("cl_a"))
    lb = lab.select(F.col("id").alias("dst"), F.col("label").alias("cl_b"))
    e2 = e.join(la, "src").join(lb, "dst")
    per_c = e2.groupBy(F.col("cl_a").alias("c")).agg(
        F.count_if(F.col("cl_a") == F.col("cl_b")).cast("bigint").alias("e_in"),
        F.count(F.lit(1)).cast("bigint").alias("d_c"),
    ).localCheckpoint(eager=False)  # Q fold + |E| total
    tot = per_c.agg(F.sum("d_c").cast("bigint").alias("m2"))
    q_term = F.col("e_in").cast("double") / F.col("m2") - (
        F.col("d_c").cast("double") / F.col("m2")
    ) * (F.col("d_c").cast("double") / F.col("m2"))
    return (
        per_c.join(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_communities"),
            F.expr("any_value(m2) div 2").alias("n_edges"),
            fround(F.sum(q_term), 9).alias("modularity"),
        )
    )


# --- PromQL quantile_over_time ---------------------------------------------------

_QOT_ORACLE = """
    WITH q AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, hr, cents,
             row_number() OVER (PARTITION BY event_type, hr ORDER BY cents)
               AS rn,
             CAST(count(*) OVER (PARTITION BY event_type, hr) AS BIGINT) AS n
      FROM q
    ),
    pos AS (
      SELECT event_type, hr, n,
             (n - 1) // 2 + 1 AS lo50, (n - 1) % 2 AS m50,
             (9 * (n - 1)) // 10 + 1 AS lo90, (9 * (n - 1)) % 10 AS m90,
             max(CASE WHEN rn = (n - 1) // 2 + 1 THEN cents END) AS c50l,
             max(CASE WHEN rn = (n - 1) // 2 + 2 THEN cents END) AS c50h,
             max(CASE WHEN rn = (9 * (n - 1)) // 10 + 1 THEN cents END) AS c90l,
             max(CASE WHEN rn = (9 * (n - 1)) // 10 + 2 THEN cents END) AS c90h
      FROM r GROUP BY event_type, hr, n
    )
    SELECT event_type, CAST(hr AS VARCHAR) AS hr, n,
           CAST(CASE WHEN m50 = 0 THEN c50l * 2
                     ELSE c50l * 2 + (c50h - c50l) * m50 END AS DOUBLE) / 200
             AS q50,
           CAST(CASE WHEN m90 = 0 THEN c90l * 10
                     ELSE c90l * 10 + (c90h - c90l) * m90 END AS DOUBLE) / 1000
             AS q90
    FROM pos ORDER BY event_type, hr
    """


@query("promql_quantile_over_time", oracle=_QOT_ORACLE)
def promql_quantile_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL quantile_over_time with the published positional
    convention: rank phi*(n-1) over the window's samples, linear
    interpolation between the two bracketing values. Both the position
    and the interpolation fraction are exact integer arithmetic
    (phi = 1/2 and 9/10 keep everything rational: the result x2 / x10
    is an exact BIGINT before one final division), so no float quantile
    code path exists on either engine. Completes the *_over_time
    battery (count/min/max/avg/stddev/last) with the quantile member.

    100 TB: windows partition by (series, hour) — bounded by samples
    per series-hour, the same shape every *_over_time member uses; the
    bracketing values are conditional aggregates, not self-joins."""
    q = (
        table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hr"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    wp = Window.partitionBy("event_type", "hr")
    r = q.select(
        "event_type",
        "hr",
        "cents",
        F.row_number().over(wp.orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    lo50 = F.expr("(n - 1) div 2 + 1")
    m50 = (F.col("n") - 1) % 2
    lo90 = F.expr("(9 * (n - 1)) div 10 + 1")
    m90 = (9 * (F.col("n") - 1)) % 10
    pos = r.groupBy("event_type", "hr", "n").agg(
        F.max(F.when(F.col("rn") == lo50, F.col("cents"))).alias("c50l"),
        F.max(F.when(F.col("rn") == lo50 + 1, F.col("cents"))).alias("c50h"),
        F.max(F.when(F.col("rn") == lo90, F.col("cents"))).alias("c90l"),
        F.max(F.when(F.col("rn") == lo90 + 1, F.col("cents"))).alias("c90h"),
        F.max(m50).alias("m50"),
        F.max(m90).alias("m90"),
    )
    q50 = (
        F.when(F.col("m50") == 0, F.col("c50l") * 2)
        .otherwise(F.col("c50l") * 2 + (F.col("c50h") - F.col("c50l")) * F.col("m50"))
        .cast("double")
        / 200
    )
    q90 = (
        F.when(F.col("m90") == 0, F.col("c90l") * 10)
        .otherwise(F.col("c90l") * 10 + (F.col("c90h") - F.col("c90l")) * F.col("m90"))
        .cast("double")
        / 1000
    )
    return pos.select(
        "event_type",
        F.col("hr").cast("string").alias("hr"),
        "n",
        q50.alias("q50"),
        q90.alias("q90"),
    ).orderBy("event_type", "hr")
