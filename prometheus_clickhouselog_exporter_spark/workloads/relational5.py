"""Relational battery, round 3 batch 3: correlated LATERAL top-k join
and fixed-depth BFS over the name-similarity graph.

LATERAL is the SQL surface users reach for when "top-k rows of B per row
of A" is the question; Spark 4 decorrelates it into WindowGroupLimit
(map-side top-N below the exchange) + a broadcast join — the plan guard
pins that, because a naive correlated execution would be O(|A|) scans of
B. BFS completes the iterative-graph trio (connected components in
operators/dedup.py, PageRank in diagnostics.py): distance semantics
with a driver loop of join+min rounds.

Reference analog: none directly (the exporter has no joins); these are
engine-category rows from SURVEY §2.2's standard coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import fround, name_graph, query, table, triangles
from .relational26 import _INF, _block_source_distances


@query(
    "lateral_topk_customers_per_nation",
    oracle="""
    SELECT n.n_name, c.c_name, CAST(c.c_acctbal AS DOUBLE) AS acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 3
    ) c
    """,
)
def lateral_topk_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: the 3 richest customers per nation,
    written the way a SQL user writes it — a per-row dependent subquery
    with ORDER BY + LIMIT — and executed the way a cluster should run
    it.

    Plan shape (CI-pinned in test_plan_shapes.py): Catalyst decorrelates
    the lateral into row_number over (nation, acctbal DESC, name) with
    WindowGroupLimit — each map task keeps only 3 rows per nation BEFORE
    the exchange — and the 25-row nation side broadcasts. Equivalent to
    the window_topk formulation, proven by sharing its physical plan;
    the point of this row is that the LATERAL surface lowers to it
    rather than to |nations| repeated scans.

    100 TB: customer scans once, pruned to 3 columns; shuffle carries
    ≤ 3 rows per (mapper, nation). Ties at the k-boundary break by
    c_name, so the kept set is deterministic cross-engine.
    """
    table(spark, sf_dir, "nation").createOrReplaceTempView("v5_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("v5_customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, CAST(c.c_acctbal AS DOUBLE) AS acctbal
        FROM v5_nation n JOIN LATERAL (
          SELECT c_name, c_acctbal FROM v5_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) c
        """
    )


_BFS_ROUNDS = 3


def _bfs_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS (
      SELECT d.p_name, d.blk,
             least(d.dist, coalesce(min(dd.dist) + 1, {_INF})) AS dist
      FROM {prev} d
      LEFT JOIN e ON e.dst = d.p_name
      LEFT JOIN {prev} dd ON dd.p_name = e.src
      GROUP BY d.p_name, d.blk, d.dist
    )"""


@query(
    "graph_bfs_name_distances",
    oracle=f"""
    WITH nm AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    e AS (
      SELECT a.p_name AS src, b.p_name AS dst
      FROM nm a JOIN nm b
        ON a.blk = b.blk AND a.p_name <> b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    s AS (SELECT blk, min(p_name) AS srcname FROM nm GROUP BY blk),
    d0 AS (
      SELECT nm.p_name, nm.blk,
             CASE WHEN nm.p_name = s.srcname THEN 0 ELSE {_INF} END AS dist
      FROM nm JOIN s USING (blk)
    ),{_bfs_round_sql('d0', 'd1')},{_bfs_round_sql('d1', 'd2')},{_bfs_round_sql('d2', 'd3')}
    SELECT p_name, blk,
           CAST(CASE WHEN dist >= {_INF} THEN -1 ELSE dist END AS BIGINT) AS dist
    FROM d3
    """,
)
def graph_bfs_name_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first distances (3 fixed relaxation rounds) from each
    block's lexicographically-first name over the Levenshtein ≤ 2
    name-similarity graph; unreached nodes report -1. The distance
    member of the iterative-graph trio (components: dedup.py; rank:
    diagnostics.py) — same driver-loop pattern, min-plus semiring
    instead of sum-times.

    Each round is one relaxation: dist(p) ← min(dist(p), 1 + min over
    in-edges of dist(src)) — a join keyed by edge source + a min
    aggregate keyed by destination. Fixed rounds keep the job graph
    static and the oracle expressible as unrolled SQL; a production run
    loops until a 1-row convergence checksum stops changing (the CC
    discipline: ``dedup.connected_components`` runs ``rounds.fixpoint``
    over ``min_label_rounds``' step, the kernel these rounds run with
    ``weight=1``), checkpointing each round.

    100 TB: the graph derives distinct-first so it is vocabulary-sized
    here; on a billion-edge graph each round shuffles O(frontier edges)
    (src-keyed join, dst-keyed min), and the integer distances make
    every round bit-deterministic — no float drift across engines or
    reduction orders.
    """
    return _block_source_distances(spark, sf_dir, _BFS_ROUNDS, F.lit(1))


@query(
    "stats_corr_moments",
    oracle="""
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(extract(hour FROM ts) AS BIGINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(value AS DECIMAL(18,2))
                      * extract(hour FROM ts)) AS DOUBLE) AS sxy,
             CAST(sum(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(extract(hour FROM ts) AS BIGINT)
                      * extract(hour FROM ts)) AS DOUBLE) AS syy
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 100000000 + 0.5) / 100000000 AS corr_value_hour,
           floor((sxy / n - (sx / n) * (sy / n)) * 100000000 + 0.5)
             / 100000000 AS covar_pop,
           floor(sqrt(sxx / n - (sx / n) * (sx / n)) * 100000000 + 0.5)
             / 100000000 AS stddev_pop_value
    FROM m
    """,
)
def stats_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / population stddev per event type — the
    df.stat surface — computed from EXACT raw moments instead of the
    engines' built-in corr()/covar(): sums of value (DECIMAL), hour
    (BIGINT), and their products accumulate exactly, and only the final
    closed-form arithmetic runs in floating point, identically on both
    engines. Built-in corr() would hash-diverge: Spark and DuckDB use
    different streaming update formulas whose low bits depend on
    reduction order — the same reason money sums use DECIMAL
    (workloads/core.py), applied to second moments.

    100 TB: one partial+final aggregate; the five moment sums are as
    mergeable as any sum, so this is also the incremental-maintenance
    shape (incremental_agg_merge) for keeping corr up to date on a
    growing corpus. fround(8) absorbs the final-arithmetic ulps.
    """
    e = table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    hr = F.hour(F.col("ts")).cast("long")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(hr).cast("double").alias("sy"),
        F.sum(v * hr).cast("double").alias("sxy"),
        F.sum(v * v).cast("double").alias("sxx"),
        F.sum(hr * hr).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        "event_type",
        "n",
        fround(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            8,
        ).alias("corr_value_hour"),
        fround(sxy / n - (sx / n) * (sy / n), 8).alias("covar_pop"),
        fround(F.sqrt(sxx / n - (sx / n) * (sx / n)), 8).alias("stddev_pop_value"),
    )


@query(
    "cdc_apply_latest_changes",
    oracle="""
    WITH changes AS (
      SELECT o_custkey AS key,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_orderdate, o_orderkey, o_totalprice, o_orderpriority
      FROM orders
    ),
    latest AS (
      SELECT *, row_number() OVER (
               PARTITION BY key ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn
      FROM changes
    )
    SELECT o_orderpriority AS priority,
           count(*) AS n_keys,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM latest WHERE rn = 1 AND op <> 'D'
    GROUP BY o_orderpriority
    """,
)
def cdc_apply_latest_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / MERGE resolution: a change stream (upserts + delete
    tombstones, here derived from orders keyed by customer with finalized
    orders as deletes) collapses to its net effect — the LATEST change
    per key wins, and a winning tombstone removes the key from the
    snapshot. This is the ingestion half of the lakehouse pair whose
    history half is scd2_customer_priority_history (diagnostics.py):
    MERGE INTO without a MERGE engine, as one window + one filter.

    Plan shape: the latest-wins rank is row_number over (key; seq DESC)
    — planned with WindowGroupLimit pushdown for the rn=1 filter, so
    each map task forwards one candidate row per key rather than the
    key's whole change history. Tombstone filtering happens AFTER the
    rank (a deleted key's older upserts must not resurrect it) — the
    classic CDC-merge bug the op's unit test pins.

    100 TB: one key-hash shuffle of slim change rows; the snapshot
    rollup is O(groups). Nightly compaction = this op + a parquet write
    (compact_small_files); incremental maintenance = run it over
    yesterday's snapshot ∪ today's changes.
    """
    o = table(spark, sf_dir, "orders")
    ch = o.select(
        F.col("o_custkey").alias("key"),
        F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "graph_triangle_count",
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
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT nm.blk, count(t.a) AS n_triangles
    FROM nm LEFT JOIN tri t ON t.a = nm.p_name
    GROUP BY nm.blk
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting per block over the name-similarity graph — the
    fourth member of the graph family (components, PageRank, BFS): the
    clustering-coefficient numerator a dedup pipeline inspects to tell
    tight duplicate cliques from chains. Uses the ORIENTED-edge trick
    (``core.triangles``): edges are kept only as src < dst, so each triangle a<b<c is built
    exactly once by joining (a,b)+(b,c) and closing with (a,c) — no
    ×6 overcount, no post-hoc distinct.

    100 TB: the canonical two-path + closing-edge join is the standard
    distributed triangle scheme; orienting edges by degree (low→high)
    instead of lexicographically bounds the join fan-out by arboricity —
    noted here, unnecessary at vocabulary scale. Triangles attribute to
    their lowest vertex's block (blocks are components here, so all
    three vertices share it). Integer-exact.
    """
    nm, e = name_graph(spark, sf_dir)
    tri = triangles(e.filter(F.col("src") < F.col("dst"))).select("a")
    return (
        nm.join(tri, nm["p_name"] == tri["a"], "left")
        .groupBy("blk")
        .agg(F.count(F.col("a")).alias("n_triangles"))
    )


@query(
    "dq_expectations_report",
    oracle="""
    WITH dup AS (
      SELECT CAST(count(*) AS BIGINT) AS v FROM (
        SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1
      )
    ),
    scan AS (
      SELECT
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS null_custkey,
        CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS nonpos_price,
        CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                        OR o_orderdate >= TIMESTAMP '1999-01-01'
                      THEN 1 ELSE 0 END) AS BIGINT) AS date_out_of_range,
        CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
      FROM orders
    )
    SELECT c.check_name, c.n_violations,
           c.n_violations = 0 AS passed
    FROM (
      SELECT 'orderkey_unique' AS check_name, (SELECT v FROM dup) AS n_violations
      UNION ALL SELECT 'custkey_not_null', (SELECT null_custkey FROM scan)
      UNION ALL SELECT 'totalprice_positive', (SELECT nonpos_price FROM scan)
      UNION ALL SELECT 'orderdate_in_range', (SELECT date_out_of_range FROM scan)
      UNION ALL SELECT 'status_in_domain', (SELECT bad_status FROM scan)
    ) c
    """,
)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (the dbt-tests / Great
    Expectations shape): uniqueness, not-null, value-range, and domain
    checks over the orders table, emitted as (check, violations, passed)
    rows — the gate a pipeline evaluates before publishing a snapshot.

    Plan shape: the four row-level checks ride ONE scan as conditional
    partial aggregates (adding a check costs an expression, not a pass —
    the same observe()-tier trick as the log pipeline's line counters);
    only the uniqueness check needs its own key-hash aggregate, because
    duplicate detection is irreducibly a groupBy. The union of 5
    one-row branches is driver-negligible.

    100 TB: one full scan + one orderkey exchange regardless of how many
    scalar checks are registered; at this scale the uniqueness agg is
    the budget item — swap in the Bloom-prefilter (operators/bloom.py)
    when approximate uniqueness screening is acceptable.
    """
    o = table(spark, sf_dir, "orders")
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("orderkey_unique").alias("check_name"), F.col("n"))
    )
    scan = o.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("np"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("dr"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bs"),
    )
    checks = (
        scan.selectExpr("stack(4, 'custkey_not_null', nc, 'totalprice_positive', np, 'orderdate_in_range', dr, 'status_in_domain', bs) AS (check_name, n)")
    )
    return (
        dup.unionByName(checks)
        .select(
            "check_name",
            F.col("n").alias("n_violations"),
            (F.col("n") == 0).alias("passed"),
        )
    )


@query(
    "window_share_of_total",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, bal,
           floor(bal / sum(bal) OVER (PARTITION BY region) * 10000 + 0.5)
             / 10000 AS share_in_region,
           floor(bal / sum(bal) OVER () * 10000 + 0.5) / 10000
             AS share_global,
           rank() OVER (PARTITION BY region ORDER BY bal DESC, nation)
             AS rank_in_region
    FROM rev
    """,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (ratio_to_report) windows: each nation's balance as
    a fraction of its region's total and of the global total, plus its
    in-region rank — the percent-of-parent pattern every BI rollup uses,
    here as unbounded-frame SUM windows over an already-aggregated
    O(nations) table.

    Order of operations is the scale point: aggregate FIRST (partial+
    final to 25 rows), window SECOND — the windows, including the
    global-frame one, run over group-cardinality rows, so the empty
    PARTITION BY (a single-partition frame, normally a scale smell) is
    harmless by construction. Sums stay DECIMAL until the ratio; ratios
    fround so both engines emit identical doubles.

    100 TB: one customer scan + broadcast dims + one O(nations) window
    stage. Never window-then-aggregate: a per-row global-frame window
    over the raw table would serialize the corpus through one task.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("bal")
        )
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    rk = Window.partitionBy("region").orderBy(F.col("bal").desc(), "nation")
    return rev.select(
        "region",
        "nation",
        "bal",
        fround(F.col("bal") / F.sum("bal").over(wr), 4).alias("share_in_region"),
        fround(F.col("bal") / F.sum("bal").over(wg), 4).alias("share_global"),
        F.rank().over(rk).cast("long").alias("rank_in_region"),
    )


@query(
    "spatial_grid_proximity_join",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT CAST(user_id % 50 AS BIGINT) AS x,
             CAST(CAST(floor(value * 10) AS BIGINT) % 50 AS BIGINT) AS y
      FROM events WHERE value >= 0
    ),
    pairs AS (
      SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by,
             greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb
      FROM pts a JOIN pts b
        ON (a.x < b.x OR (a.x = b.x AND a.y < b.y))
       AND abs(a.x - b.x) <= 2 AND abs(a.y - b.y) <= 2
    )
    SELECT cheb, count(*) AS n_pairs
    FROM pairs GROUP BY cheb
    """,
)
def spatial_grid_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity self-join via grid bucketing — the canonical
    distributed spatial-join shape (geohash / H3 cell join): each point
    lands in a 4×4 cell, candidate pairs come from each point joined to
    its cell AND the 8 neighbors (a 9× explode of POINTS, never pairs),
    and the exact Chebyshev ≤ 2 predicate verifies in-cell. Output is
    the pair count per distance — the spatial autocorrelation profile.
    Integer grid coordinates keep every comparison exact cross-engine
    (a haversine variant would diverge in libm low bits; the plan shape
    is identical).

    Dedup discipline: each pair is a candidate EXACTLY once by
    construction — of a point's nine offset rows, precisely one lands on
    the partner's cell (the offset equals the unique cell delta), so the
    equi-join needs no delta re-check and no post-hoc distinct; the a<b
    ordering then halves ordered to unordered pairs (the
    graph_triangle_count orientation trick). The brute-force oracle is
    O(P²) over distinct points — fine for DuckDB at grid scale,
    linearithmic via cells for Spark at corpus scale.

    100 TB: shuffle is the cell-keyed join of O(9·points) slim rows;
    hot cells (urban skew in real geo data) are AQE-split like any
    skewed key. Radius scales by cell size, not plan shape.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value") >= 0)
    pts = e.select(
        (F.col("user_id") % 50).cast("long").alias("x"),
        (F.floor(F.col("value") * 10).cast("long") % 50).cast("long").alias("y"),
    ).distinct()
    cell = pts.select(
        "x", "y", F.floor(F.col("x") / 4).alias("cx"), F.floor(F.col("y") / 4).alias("cy")
    )
    # probe side: each point broadcast to its cell and the 8 neighbors
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    probe = cell.select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        "cx", "cy", off.alias("o")
    ).select(
        "bx", "by",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    # exactly-once by construction: for a pair (a, b), exactly ONE of b's
    # nine offset rows lands on a's cell (o = cell(a) − cell(b), unique),
    # so the equi-join on (cx, cy) emits each candidate pair once
    joined = cell.join(probe, ["cx", "cy"])
    pairs = joined.filter(
        # ordered pair + radius
        ((F.col("x") < F.col("bx")) | ((F.col("x") == F.col("bx")) & (F.col("y") < F.col("by"))))
        & (F.abs(F.col("x") - F.col("bx")) <= 2)
        & (F.abs(F.col("y") - F.col("by")) <= 2)
    )
    return (
        pairs.select(
            F.greatest(
                F.abs(F.col("x") - F.col("bx")), F.abs(F.col("y") - F.col("by"))
            ).alias("cheb")
        )
        .groupBy("cheb")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "join_full_outer_reconcile",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS k, count(*) AS n_early,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v_early
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-08-01'
      GROUP BY o_custkey
    ),
    b AS (
      SELECT o_custkey AS k, count(*) AS n_late,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v_late
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-08-01'
      GROUP BY o_custkey
    )
    SELECT CASE WHEN a.k IS NULL THEN 'late_only'
                WHEN b.k IS NULL THEN 'early_only'
                ELSE 'both' END AS presence,
           count(*) AS n_customers,
           CAST(sum(coalesce(a.n_early, 0)) AS BIGINT) AS orders_early,
           CAST(sum(coalesce(b.n_late, 0)) AS BIGINT) AS orders_late
    FROM a FULL OUTER JOIN b ON a.k = b.k
    GROUP BY presence
    """,
)
def join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the reconciliation shape: customers active
    before vs after a late cutoff (chosen so all three presence classes
    are populated at every SF), classified early-only / late-only / both
    with order counts on each side. The one outer-join variant the
    battery lacked; snapshot-diff, ledger reconciliation, and
    churn/acquisition splits are all this query.

    Plan shape: both sides pre-aggregate to per-key rows FIRST (the
    share-of-total discipline), so the full outer join runs over two
    key-cardinality inputs co-partitioned by the join key — Spark plans
    it as one SortMergeJoin with both shuffles on k; a full outer can
    never broadcast (either side may contribute unmatched rows).

    100 TB: two scans with disjoint pushed date filters, one key
    shuffle each, O(keys) join. Null-side classification is exact
    integer logic — no float discipline needed beyond the DECIMAL sums.
    """
    o = table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-08-01").cast("timestamp")
    a = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_early"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("v_early"),
        )
    )
    b = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_late"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("v_late"),
        )
    )
    j = a.join(b, "k", "full_outer")
    presence = (
        F.when(F.col("n_early").isNull(), "late_only")
        .when(F.col("n_late").isNull(), "early_only")
        .otherwise("both")
    )
    return j.groupBy(presence.alias("presence")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.coalesce("n_early", F.lit(0))).alias("orders_early"),
        F.sum(F.coalesce("n_late", F.lit(0))).alias("orders_late"),
    )


@query(
    "trend_wow_revenue",
    oracle="""
    WITH weekly AS (
      SELECT o_orderpriority AS priority,
             date_trunc('week', o_orderdate)::DATE AS wk,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY priority, wk
    ),
    wow AS (
      SELECT priority, wk, rev,
             lag(rev) OVER (PARTITION BY priority ORDER BY wk) AS prev
      FROM weekly
    )
    SELECT priority, CAST(wk AS VARCHAR) AS wk, rev,
           floor((rev - prev) / prev * 1000000 + 0.5) / 1000000
             AS wow_change
    FROM wow WHERE prev IS NOT NULL
    ORDER BY abs((rev - prev) / prev) DESC, priority, wk LIMIT 10
    """,
)
def trend_wow_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week trend with top movers: weekly revenue per order
    priority, the WoW growth rate from a lag window, and the 10 largest
    absolute swings — the BI trend-report shape (period rollup → lag →
    delta → top movers) in one plan.

    Float discipline where it matters: revenue sums stay DECIMAL until
    the final cast, the reported growth rate is fround-rounded, and the
    top-10 ORDER BY ranks on the RAW ratio with (priority, wk)
    tiebreaks — ranking on the rounded value could reorder near-equal
    swings differently across engines, while ranking raw and rounding
    only the display value cannot.

    100 TB: the weekly rollup is the only data-sized aggregate
    (partial+final, O(priorities × weeks) output); the lag window and
    top-k (TakeOrderedAndProject) run on group-cardinality rows. Dates
    cross the driver compare as strings.
    """
    o = table(spark, sf_dir, "orders")
    weekly = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("wk"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    w = Window.partitionBy("priority").orderBy("wk")
    wow = weekly.withColumn("prev", F.lag("rev").over(w)).filter(
        F.col("prev").isNotNull()
    )
    ratio = (F.col("rev") - F.col("prev")) / F.col("prev")
    return (
        wow.select(
            "priority",
            F.col("wk").cast("string").alias("wk"),
            "rev",
            fround(ratio, 6).alias("wow_change"),
            F.abs(ratio).alias("_rank"),
        )
        .orderBy(F.col("_rank").desc(), "priority", "wk")
        .limit(10)
        .drop("_rank")
    )
