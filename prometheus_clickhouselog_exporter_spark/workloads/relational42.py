"""Relational battery, round 8 batch 9: connected components, the
experiment-design MDE readout, and LTTB chart downsampling.

Connected components is the transitive-closure primitive the ER/dedup
families' keep-first rules deliberately avoid — when the product
question IS "how many distinct entities" (golden records, near-dup
clusters), min-label propagation over the match graph is the answer,
and it runs on the same name-similarity graph the LP/SSSP/BFS queries
share (core.name_graph).

Reference parity note: /root/reference has no graph, stats, or viz
surface (query.go:1-289); §2.3 extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import min_label_rounds
from .core import fround, name_graph, query, table
from .relational26 import _LP_SQL_GRAPH

_CC_ROUNDS = 4  # >= graph diameter within these vocabulary blocks

# two-sided alpha=0.05 and 80% power normal quantiles (literal on both
# engines — the only "table lookup" classical power analysis needs)
_Z_ALPHA = 1.959964
_Z_POWER = 0.841621

_LTTB_BUCKETS = 30


def _cc_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
      SELECT n.p_name,
             least(n.label, coalesce(min(l.label), n.label)) AS label
      FROM {prev} n
      LEFT JOIN e ON e.dst = n.p_name
      LEFT JOIN {prev} l ON l.p_name = e.src
      GROUP BY n.p_name, n.label
    )"""


@query(
    "graph_connected_components",
    oracle=f"""
    WITH {_LP_SQL_GRAPH},
    c0 AS MATERIALIZED (SELECT p_name, p_name AS label FROM nm),
    {_cc_round_sql('c0', 'c1')},{_cc_round_sql('c1', 'c2')},{_cc_round_sql('c2', 'c3')},{_cc_round_sql('c3', 'c4')}
    SELECT label AS component,
           CAST(count(*) AS BIGINT) AS n_members,
           min(p_name) AS first_member
    FROM c4 GROUP BY label ORDER BY component
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by synchronous min-label propagation over
    the min semiring: label(v) ← min(label(v), min over neighbors
    label(u)), seeded with each node's own name. Four fixed rounds
    reach the fixpoint on these vocabulary-block graphs (diameter ≤ 4
    within a block; blocks never connect); the census reports each
    component's min-label id, size, and first member. This is the
    transitive-closure operator the dedup/ER families need when the
    question is "how many distinct entities" — LP (mode label,
    communities) and BFS (hop counts) answer different questions on
    the same shared graph.

    100 TB: each round (``operators.dedup.min_label_rounds``) shuffles
    O(edges) slim (dst, label) pairs with map-side min combining; fixed
    rounds keep the DAG static and localCheckpoint cuts lineage (the
    PageRank discipline). The production form alternates
    large-star/small-star (Kiveris et al.; graph_cc_large_small_star)
    to converge in O(log n) rounds on adversarial diameters — same
    per-round shuffle shape, noted not needed at block diameters."""
    nm, e = name_graph(spark, sf_dir)
    seed = nm.select(F.col("p_name").alias("id"), F.col("p_name").alias("label"))
    lab = min_label_rounds(e, seed, _CC_ROUNDS)
    return (
        lab.groupBy(F.col("label").alias("component"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("id").alias("first_member"),
        )
        .orderBy("component")
    )


@query(
    "stats_power_mde",
    oracle=f"""
    WITH obs AS (
      SELECT user_id % 2 = 1 AS treated,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT CAST(count(CASE WHEN treated THEN 1 END) AS BIGINT) AS nt,
             CAST(count(CASE WHEN NOT treated THEN 1 END) AS BIGINT) AS nc,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents) AS BIGINT) AS ss
      FROM obs
    )
    SELECT nt AS n_treated, nc AS n_control,
           floor(sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)) * 1e4
                 + 0.5) / 1e4 AS pooled_std_cents,
           floor(({_Z_ALPHA} + {_Z_POWER})
                 * sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1))
                 * sqrt(1.0 / nt + 1.0 / nc) * 1e4 + 0.5) / 1e4
             AS mde_cents,
           floor(({_Z_ALPHA} + {_Z_POWER})
                 * sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1))
                 * sqrt(1.0 / nt + 1.0 / nc) / (CAST(s AS DOUBLE) / n)
                 * 1e6 + 0.5) / 1e6 AS mde_relative
    FROM m
    """,
)
def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the two-group design at 80% power /
    5% two-sided alpha: MDE = (z_{{1−α/2}} + z_{{power}}) · σ ·
    √(1/n_t + 1/n_c), with σ the pooled sample std from exact integer
    moments (Σx, Σx² in cents) and the z constants literal on both
    engines — classical power analysis needs no table beyond them.
    Reported absolute (cents) and relative to the overall mean. This is
    the BEFORE-the-experiment reading of the same design the DiD /
    CUPED / bootstrap-CI / randomization-test queries read after; an
    experiment platform prints all five together.

    100 TB: one conditional moment aggregate — the cheapest query in
    the experimentation family, run at design time for every metric."""
    obs = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("user_id") % 2 == 1).alias("treated"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
                "cents"
            ),
        )
    )
    t = F.col("treated")
    m = obs.agg(
        F.count(F.when(t, F.lit(1))).cast("bigint").alias("nt"),
        F.count(F.when(~t, F.lit(1))).cast("bigint").alias("nc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
    )
    var = (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    mde = (
        F.lit(_Z_ALPHA + _Z_POWER)
        * F.sqrt(var)
        * F.sqrt(1.0 / F.col("nt") + 1.0 / F.col("nc"))
    )
    return m.select(
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        fround(F.sqrt(var), 4).alias("pooled_std_cents"),
        fround(mde, 4).alias("mde_cents"),
        fround(mde / (F.col("s").cast("double") / F.col("n")), 6).alias(
            "mde_relative"
        ),
    )


@query(
    "timeseries_lttb_downsample",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
      SELECT min(x) AS x0, max(x) AS x1, CAST(count(*) AS BIGINT) AS n
      FROM pts
    ),
    binned AS (
      SELECT p.event_id, p.x, p.y,
             least(CAST(floor((p.x - b.x0) * {_LTTB_BUCKETS}
                              / CAST(b.x1 - b.x0 + 1 AS DOUBLE)) AS BIGINT),
                   {_LTTB_BUCKETS - 1}) AS bkt
      FROM pts p CROSS JOIN bounds b
    ),
    bavg AS (
      SELECT bkt,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(count(*) AS BIGINT) AS c
      FROM binned GROUP BY bkt
    ),
    nbr AS (
      SELECT bkt,
             lag(sx)  OVER (ORDER BY bkt) AS ax_n,
             lag(sy)  OVER (ORDER BY bkt) AS ay_n,
             lag(c)   OVER (ORDER BY bkt) AS ac,
             lead(sx) OVER (ORDER BY bkt) AS cx_n,
             lead(sy) OVER (ORDER BY bkt) AS cy_n,
             lead(c)  OVER (ORDER BY bkt) AS cc
      FROM bavg
    ),
    scored AS (
      SELECT p.bkt, p.event_id, p.x, p.y,
             CASE WHEN n.ac IS NULL OR n.cc IS NULL THEN NULL
                  ELSE abs((CAST(n.ax_n AS DOUBLE) / n.ac
                            - CAST(n.cx_n AS DOUBLE) / n.cc)
                           * (p.y - CAST(n.ay_n AS DOUBLE) / n.ac)
                         - (CAST(n.ax_n AS DOUBLE) / n.ac - p.x)
                           * (CAST(n.cy_n AS DOUBLE) / n.cc
                              - CAST(n.ay_n AS DOUBLE) / n.ac))
             END AS area2
      FROM binned p JOIN nbr n USING (bkt)
    )
    SELECT bkt, event_id, x, y FROM (
      SELECT bkt, event_id, x, y,
             row_number() OVER (
               PARTITION BY bkt
               ORDER BY CASE WHEN area2 IS NULL THEN 0 ELSE 1 END DESC,
                        floor(area2 * 1e4 + 0.5) DESC NULLS LAST,
                        CASE WHEN area2 IS NULL THEN x ELSE NULL END,
                        event_id
             ) AS rk
      FROM scored
    ) WHERE rk = 1 ORDER BY bkt
    """,
)
def timeseries_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB (largest-triangle-three-buckets) chart downsampling, the
    PARALLEL variant: the series splits into 30 equal-time buckets and
    each bucket keeps the point with the largest triangle area against
    the NEIGHBOR BUCKETS' averages (classic LTTB anchors on the
    previously-selected point — an inherently sequential recurrence;
    the published parallel relaxation substitutes the bucket average,
    trading <3% visual fidelity for full data-parallelism, which is the
    right trade on a cluster). Edge buckets (no left/right neighbor)
    keep their earliest point. Areas compare on floor-quantized 1e-4
    doubles derived from identical integer inputs, ties on event_id —
    both engines pick the same 30 points.

    100 TB: one scan buckets the series; bucket averages are 30 rows;
    the per-bucket argmax is a WindowGroupLimit partitioned by bucket.
    Per-series fan-out (a dashboard of thousands of charts) adds the
    series key to every partition/group — same plan."""
    pts = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
            .cast("bigint")
            .alias("x"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
        )
        .localCheckpoint(eager=False)  # bounds + binning reuse
    )
    bounds = pts.agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    binned = pts.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "x",
        "y",
        F.least(
            F.floor(
                (F.col("x") - F.col("x0"))
                * _LTTB_BUCKETS
                / (F.col("x1") - F.col("x0") + 1).cast("double")
            ).cast("bigint"),
            F.lit(_LTTB_BUCKETS - 1).cast("bigint"),
        ).alias("bkt"),
    ).localCheckpoint(eager=False)  # bucket averages + the argmax scan
    bavg = binned.groupBy("bkt").agg(
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    wn = Window.orderBy("bkt")
    nbr = bavg.select(
        "bkt",
        F.lag("sx").over(wn).alias("ax_n"),
        F.lag("sy").over(wn).alias("ay_n"),
        F.lag("c").over(wn).alias("ac"),
        F.lead("sx").over(wn).alias("cx_n"),
        F.lead("sy").over(wn).alias("cy_n"),
        F.lead("c").over(wn).alias("cc"),
    )
    ax = F.col("ax_n").cast("double") / F.col("ac")
    ay = F.col("ay_n").cast("double") / F.col("ac")
    cx = F.col("cx_n").cast("double") / F.col("cc")
    cy = F.col("cy_n").cast("double") / F.col("cc")
    area2 = F.when(
        F.col("ac").isNull() | F.col("cc").isNull(), F.lit(None)
    ).otherwise(
        F.abs((ax - cx) * (F.col("y") - ay) - (ax - F.col("x")) * (cy - ay))
    )
    scored = binned.join(F.broadcast(nbr), "bkt").select(
        "bkt", "event_id", "x", "y", area2.alias("area2")
    )
    wpick = Window.partitionBy("bkt").orderBy(
        F.desc(F.when(F.col("area2").isNull(), 0).otherwise(1)),
        F.desc_nulls_last(F.floor(F.col("area2") * 1e4 + F.lit(0.5))),
        F.when(F.col("area2").isNull(), F.col("x")),
        F.col("event_id"),
    )
    return (
        scored.withColumn("rk", F.row_number().over(wpick))
        .filter(F.col("rk") == 1)
        .select("bkt", "event_id", "x", "y")
        .orderBy("bkt")
    )


# shared verbatim by the batch query and the streaming fidelity twin
# (llmdata27) — M4 is a commutative aggregate, so batch/stream equality
# is exactly what the twin certifies
_M4_SQL = f"""
    WITH pts AS (
      SELECT event_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ),
    bounds AS (SELECT min(x) AS x0, max(x) AS x1 FROM pts),
    binned AS (
      SELECT p.event_id, p.x, p.y,
             least(CAST(floor((p.x - b.x0) * {_LTTB_BUCKETS}
                              / CAST(b.x1 - b.x0 + 1 AS DOUBLE)) AS BIGINT),
                   {_LTTB_BUCKETS - 1}) AS bkt
      FROM pts p CROSS JOIN bounds b
    )
    SELECT bkt,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(y) AS BIGINT) AS y_min,
           CAST(arg_min(event_id, y * 1000000000 + event_id) AS BIGINT)
             AS y_min_event,
           CAST(max(y) AS BIGINT) AS y_max,
           CAST(arg_max(event_id, y * 1000000000 - event_id) AS BIGINT)
             AS y_max_event,
           CAST(arg_min(y, x * 1000000000 + event_id) AS BIGINT) AS y_first,
           CAST(arg_max(y, x * 1000000000 + event_id) AS BIGINT) AS y_last
    FROM binned GROUP BY bkt ORDER BY bkt
    """


@query("timeseries_m4_downsample", oracle=_M4_SQL)
def timeseries_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 chart downsampling (Jugel et al., VLDB 2014): per pixel-column
    bucket keep min, max, first, last — the four points that make a
    line rendering pixel-identical to the full series, and the other
    canonical downsampler next to LTTB (M4 is error-free for line
    charts; LTTB is prettier for scatter). All four argmins use packed
    single-integer keys (y·1e9±event_id, x·1e9+event_id) so ties can
    never diverge cross-engine — the same rule as the argMin/argMax
    battery. One aggregate, no window at all.

    100 TB: this is a pure map-side-combining aggregate over the bucket
    key — the cheapest possible downsampler shape; per-series fan-out
    adds the series key to the group."""
    pts = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
            .cast("bigint")
            .alias("x"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
        )
        .localCheckpoint(eager=False)  # bounds + binning reuse
    )
    bounds = pts.agg(F.min("x").alias("x0"), F.max("x").alias("x1"))
    binned = pts.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "x",
        "y",
        F.least(
            F.floor(
                (F.col("x") - F.col("x0"))
                * _LTTB_BUCKETS
                / (F.col("x1") - F.col("x0") + 1).cast("double")
            ).cast("bigint"),
            F.lit(_LTTB_BUCKETS - 1).cast("bigint"),
        ).alias("bkt"),
    )
    ykey_min = F.col("y") * F.lit(1000000000) + F.col("event_id")
    ykey_max = F.col("y") * F.lit(1000000000) - F.col("event_id")
    tkey = F.col("x") * F.lit(1000000000) + F.col("event_id")
    return (
        binned.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("y").cast("bigint").alias("y_min"),
            F.min_by("event_id", ykey_min).cast("bigint").alias("y_min_event"),
            F.max("y").cast("bigint").alias("y_max"),
            F.max_by("event_id", ykey_max).cast("bigint").alias("y_max_event"),
            F.min_by("y", tkey).cast("bigint").alias("y_first"),
            F.max_by("y", tkey).cast("bigint").alias("y_last"),
        )
        .orderBy("bkt")
    )
