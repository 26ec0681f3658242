"""Graph-algorithm breadth, round 6: deterministic label propagation
(community detection) and weighted single-source shortest paths
(Bellman–Ford min-plus rounds) — completing the iterative-graph family
(components: operators/dedup.py large-star; rank: diagnostics PageRank;
unweighted distances: relational5 BFS; triangles: relational5).

Both run on the vocabulary-sized Levenshtein name-similarity graph the
whole family shares (``core.name_graph``); SSSP and BFS are the
min-plus form of the component kernel (``min_label_rounds(weight=)``,
via ``_block_source_distances``). Fixed relaxation rounds keep the
DuckDB oracle expressible as unrolled MATERIALIZED CTEs (SCALE.md:
DuckDB inlines CTEs — an unmaterialized round chain re-evaluates
exponentially). Everything is integer arithmetic: bit-deterministic
across engines, reduction orders, and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import min_label_rounds
from ..operators.rounds import rounds
from .core import name_graph, query

_LP_ROUNDS = 3
_SSSP_ROUNDS = 4
_INF = 999


_LP_SQL_GRAPH = """
    nm AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    e AS MATERIALIZED (
      SELECT a.p_name AS src, b.p_name AS dst,
             levenshtein(a.p_name, b.p_name) AS w
      FROM nm a JOIN nm b
        ON a.blk = b.blk AND a.p_name <> b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    )"""


def _lp_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
      SELECT n.p_name,
             coalesce(
               (SELECT v.label FROM
                  (SELECT l.label, count(*) AS c
                   FROM e JOIN {prev} l ON l.p_name = e.src
                   WHERE e.dst = n.p_name
                   GROUP BY l.label) v
                ORDER BY v.c DESC, v.label LIMIT 1),
               n.label) AS label
      FROM {prev} n
    )"""


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH {_LP_SQL_GRAPH},
    l0 AS MATERIALIZED (SELECT p_name, p_name AS label FROM nm),
    {_lp_round_sql('l0', 'l1')},{_lp_round_sql('l1', 'l2')},{_lp_round_sql('l2', 'l3')}
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members,
           min(p_name) AS first_member
    FROM l3 GROUP BY 1 ORDER BY 1
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (community detection,
    Raghavan et al. 2007 made reproducible): every node starts with its
    own name as label; each round every node adopts the most frequent
    label among its neighbors, ties broken by lexicographic minimum,
    isolated nodes keep their label. Three fixed rounds, then community
    census (label, size, first member). The tie rule is what makes LP —
    normally run with random tie-breaks — bit-deterministic and
    therefore oracle-checkable.

    Plan: per round, one edge-keyed join + one (dst, label) count agg +
    one per-dst WindowGroupLimit pick, each round localCheckpointed
    (lineage cut — the PageRank discipline). 100 TB: rounds shuffle
    O(edges) slim (dst, label-hash) rows; the census is a final count.
    """
    nm, e = name_graph(spark, sf_dir)
    lab = nm.select("p_name", F.col("p_name").alias("label"))
    wpick = Window.partitionBy("dst").orderBy(F.desc("c"), "label")

    def step(lab: DataFrame) -> DataFrame:
        votes = (
            e.join(
                lab.select(F.col("p_name").alias("src"), "label"), "src"
            )
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = (
            votes.withColumn("rk", F.row_number().over(wpick))
            .filter(F.col("rk") == 1)
            .select(F.col("dst").alias("p_name"), F.col("label").alias("nl"))
        )
        return lab.join(pick, "p_name", "left").select(
            "p_name",
            F.coalesce(F.col("nl"), F.col("label")).alias("label"),
        )

    lab = rounds(lab, step, _LP_ROUNDS)[-1]
    return (
        lab.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("p_name").alias("first_member"),
        )
        .orderBy("community")
    )


def _sssp_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
      SELECT d.p_name, d.blk,
             least(d.dist, coalesce(min(dd.dist + e.w), {_INF})) AS dist
      FROM {prev} d
      LEFT JOIN e ON e.dst = d.p_name
      LEFT JOIN {prev} dd ON dd.p_name = e.src
      GROUP BY d.p_name, d.blk, d.dist
    )"""


@query(
    "graph_weighted_sssp",
    oracle=f"""
    WITH {_LP_SQL_GRAPH},
    s AS (SELECT blk, min(p_name) AS srcname FROM nm GROUP BY blk),
    d0 AS MATERIALIZED (
      SELECT nm.p_name, nm.blk,
             CASE WHEN nm.p_name = s.srcname THEN 0 ELSE {_INF} END AS dist
      FROM nm JOIN s USING (blk)
    ),{_sssp_round_sql('d0', 'd1')},{_sssp_round_sql('d1', 'd2')},{_sssp_round_sql('d2', 'd3')},{_sssp_round_sql('d3', 'd4')}
    SELECT p_name, blk,
           CAST(CASE WHEN dist >= {_INF} THEN -1 ELSE dist END AS BIGINT)
             AS dist
    FROM d4
    """,
)
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths by synchronous Bellman–Ford
    relaxation over the min-plus semiring: dist(v) ← min(dist(v),
    min over in-edges (dist(u) + w(u,v))), edge weight = the Levenshtein
    distance itself (1 or 2), source = each block's lexicographically
    first name. Four fixed rounds bound path length at 4 hops — enough
    to stabilize these vocabulary-sized blocks; unreached nodes report
    -1. The weighted sibling of graph_bfs_name_distances (hop counts)
    — one line of semiring difference, a genuinely different algorithm
    (BFS layering cannot shortcut a 2-hop weight-1+1 path under a
    direct weight-2 edge; this can).

    100 TB: each round shuffles O(edges) integer triples; fixed rounds
    keep the DAG static; localCheckpoint cuts lineage per round. A
    production loop adds the 1-row convergence-checksum stop."""
    return _block_source_distances(spark, sf_dir, _SSSP_ROUNDS, F.col("w"))


def _block_source_distances(
    spark: SparkSession, sf_dir: str, rounds: int, weight: Column
) -> DataFrame:
    """``(p_name, blk, dist)`` after ``rounds`` min-plus relaxations
    (``operators.dedup.min_label_rounds``) of the shared name graph from
    each block's lexicographically first name; ``dist`` is -1 where the
    rounds did not reach. Unreached labels stay at the ``_INF`` seed, as
    in the oracles' rounds: every seed is <= ``_INF``, so the kernel's
    ``least(d, coalesce(nd, d))`` equals their ``least(d, coalesce(nd,
    _INF))``."""
    nm, e = name_graph(spark, sf_dir)
    s = nm.groupBy("blk").agg(F.min("p_name").alias("srcname"))
    seed = nm.join(s, "blk").select(
        F.col("p_name").alias("id"),
        F.when(F.col("p_name") == F.col("srcname"), 0)
        .otherwise(_INF)
        .alias("label"),
    )
    return min_label_rounds(e, seed, rounds, weight=weight).select(
        F.col("id").alias("p_name"),
        F.split("id", " ").getItem(1).alias("blk"),
        F.when(F.col("label") >= _INF, -1)
        .otherwise(F.col("label"))
        .cast("long")
        .alias("dist"),
    )
