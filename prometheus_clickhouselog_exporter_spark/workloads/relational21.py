"""Relational battery, round 3 batch 24: k-core peeling and the
Friedman test.

k-core completes the iterative-graph quartet (connected components,
PageRank, BFS, triangles → now core decomposition): repeatedly remove
nodes of degree < k — the standard dense-subgraph screen (spam rings,
tight co-purchase clusters survive; tendrils peel away). Like the
other iterative rows, the loop is UNROLLED to a fixed round budget
with a per-round survivor census and an explicit convergence flag, so
the result is well-defined and the oracle replays every round. The
Friedman test is the k-RELATED-samples member of the rank family
(Wilcoxon handles k=2 paired; Friedman ranks k=4 quarters within each
customer) — tie-doubled ranks keep every rank sum integer.

Float discipline per workloads/core.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import copurchase_edges, fround, kcore_rounds, query, table

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_round_sql(r: int) -> str:
    """nodes_{r} = nodes_{r-1} minus degree<k nodes (degree within the
    surviving subgraph). MATERIALIZED so DuckDB evaluates each round
    ONCE — inlined CTEs would re-run the whole chain per consumer."""
    return f"""
    deg{r} AS MATERIALIZED (
      SELECT p, count(*) AS d FROM (
        SELECT e.pa AS p FROM edges e
        JOIN nodes{r - 1} x ON e.pa = x.p JOIN nodes{r - 1} y ON e.pb = y.p
        UNION ALL
        SELECT e.pb FROM edges e
        JOIN nodes{r - 1} x ON e.pa = x.p JOIN nodes{r - 1} y ON e.pb = y.p
      ) GROUP BY p
    ),
    nodes{r} AS MATERIALIZED (
      SELECT p FROM deg{r} WHERE d >= {_KCORE_K}
    )"""


@query(
    "graph_kcore_peel",
    oracle=f"""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes0 AS MATERIALIZED (
      SELECT DISTINCT p FROM (SELECT pa AS p FROM edges
                              UNION ALL SELECT pb FROM edges)
    ),
    {",".join(_kcore_round_sql(r) for r in range(1, _KCORE_ROUNDS + 1))},
    census AS MATERIALIZED (
      {" UNION ALL ".join(f"SELECT {r} AS round, CAST(count(*) AS BIGINT) AS n_nodes FROM nodes{r}" for r in range(_KCORE_ROUNDS + 1))}
    ),
    conv AS (
      SELECT (max(CASE WHEN round = {_KCORE_ROUNDS} THEN n_nodes END)
              = max(CASE WHEN round = {_KCORE_ROUNDS - 1} THEN n_nodes END))
               AS converged
      FROM census
    )
    SELECT c.round, c.n_nodes, v.converged
    FROM census c, conv v ORDER BY c.round
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3) of the co-purchase graph, unrolled to four
    rounds: each round recomputes degrees WITHIN the surviving
    subgraph and drops nodes under k — the dense-subgraph screen that
    completes the iterative-graph quartet (CC / PageRank / BFS /
    triangles). Emits the survivor census per round plus a CONVERGED
    flag (last two rounds equal), the honest bounded-iteration
    contract every iterative row here uses; the oracle replays all
    four rounds.

    Scale (``core.kcore_rounds``): each round is one degree aggregate +
    broadcast semi-joins against the shrinking survivor set — the
    frontier SHRINKS monotonically, so later rounds are cheaper;
    localCheckpoint per round cuts the lineage exactly like
    dedup_cluster_canonical's CC loop. Rounds
    needed in practice ≈ the peel depth, rarely more than a handful.
    """
    li = table(spark, sf_dir, "lineitem")
    # one-exchange edge build (r13 optimization pass — core.copurchase_edges;
    # collect_set subsumes the old lines-level distinct)
    edges = copurchase_edges(
        li.select("l_orderkey", "l_partkey"), directed=False
    ).localCheckpoint(eager=False)  # edge list reused every round
    nodes = (
        edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    counts = [f.count() for f in kcore_rounds(edges, nodes, _KCORE_K, _KCORE_ROUNDS)]
    converged = counts[-1] == counts[-2]
    rows = [(r, int(c), converged) for r, c in enumerate(counts)]
    return spark.createDataFrame(
        rows, "round bigint, n_nodes bigint, converged boolean"
    ).orderBy("round")


@query(
    "stats_friedman_quarters",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(quarter(o_orderdate) AS INT) AS q,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS s
      FROM orders GROUP BY 1, 2
    ),
    complete AS (
      SELECT o_custkey FROM spend GROUP BY o_custkey HAVING count(*) = 4
    ),
    ranked AS (
      SELECT s.o_custkey, s.q,
             2 * rank() OVER (PARTITION BY s.o_custkey ORDER BY s.s)
               + count(*) OVER (PARTITION BY s.o_custkey, s.s) - 1 AS r2
      FROM spend s JOIN complete c ON s.o_custkey = c.o_custkey
    ),
    sums AS (
      SELECT q, CAST(sum(r2) AS BIGINT) AS rsum2 FROM ranked GROUP BY q
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM complete)
    SELECT CAST(n.n AS BIGINT) AS n_subjects,
           CAST(max(CASE WHEN q = 1 THEN rsum2 END) AS BIGINT) AS r1_x2,
           CAST(max(CASE WHEN q = 2 THEN rsum2 END) AS BIGINT) AS r2_x2,
           CAST(max(CASE WHEN q = 3 THEN rsum2 END) AS BIGINT) AS r3_x2,
           CAST(max(CASE WHEN q = 4 THEN rsum2 END) AS BIGINT) AS r4_x2,
           floor(((3.0 / (n.n * 4 * 5))
                  * (  (CAST(max(CASE WHEN q = 1 THEN rsum2 END) AS DOUBLE)
                        * CAST(max(CASE WHEN q = 1 THEN rsum2 END) AS DOUBLE))
                     + (CAST(max(CASE WHEN q = 2 THEN rsum2 END) AS DOUBLE)
                        * CAST(max(CASE WHEN q = 2 THEN rsum2 END) AS DOUBLE))
                     + (CAST(max(CASE WHEN q = 3 THEN rsum2 END) AS DOUBLE)
                        * CAST(max(CASE WHEN q = 3 THEN rsum2 END) AS DOUBLE))
                     + (CAST(max(CASE WHEN q = 4 THEN rsum2 END) AS DOUBLE)
                        * CAST(max(CASE WHEN q = 4 THEN rsum2 END) AS DOUBLE)))
                  - (3.0 * n.n * 5)) * 1e6 + 0.5) / 1e6 AS friedman_q
    FROM sums, n GROUP BY n.n
    """,
)
def stats_friedman_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test across the four QUARTERS of customer spend — the
    k-related-samples rank test (does some quarter systematically
    outrank the others, judged WITHIN each customer, so cross-customer
    scale differences cancel?). Only customers active in all four
    quarters qualify (complete blocks, per the textbook design);
    within-customer ranks use the doubled tie-averaging (2r+c−1), and
    with doubled rank sums R' the statistic is
    Q = 3/(n·k·(k+1))·ΣR'_j² − 3n(k+1) — exact integer inputs, one
    shared float expression, k=4 constants folded in.

    Scale: one (customer, quarter) aggregate, a complete-block
    semi-join, per-customer rank windows over 4-row partitions, then
    a 4-group sum — nothing exceeds customer cardinality.
    """
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy(
        "o_custkey", F.quarter("o_orderdate").cast("int").alias("q")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("s")
    ).localCheckpoint(eager=False)  # (customer, quarter)-sized; 2 consumers
    complete = (
        spend.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("nq"))
        .filter(F.col("nq") == 4)
        .select("o_custkey")
        .localCheckpoint(eager=False)  # customer-sized; join + count
    )
    ranked = spend.join(complete, "o_custkey").select(
        "o_custkey",
        "q",
        (
            F.lit(2)
            * F.rank().over(Window.partitionBy("o_custkey").orderBy("s"))
            + F.count(F.lit(1)).over(Window.partitionBy("o_custkey", "s"))
            - 1
        ).alias("r2"),
    )
    sums = ranked.groupBy("q").agg(F.sum("r2").cast("bigint").alias("rsum2"))
    n = complete.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pick = lambda q: F.max(F.when(F.col("q") == q, F.col("rsum2")))  # noqa: E731
    wide = sums.crossJoin(F.broadcast(n)).groupBy("n").agg(
        pick(1).cast("bigint").alias("r1_x2"),
        pick(2).cast("bigint").alias("r2_x2"),
        pick(3).cast("bigint").alias("r3_x2"),
        pick(4).cast("bigint").alias("r4_x2"),
    )
    sq = lambda c: F.col(c).cast("double") * F.col(c).cast("double")  # noqa: E731
    qstat = (F.lit(3.0) / (F.col("n") * 4 * 5)) * (
        sq("r1_x2") + sq("r2_x2") + sq("r3_x2") + sq("r4_x2")
    ) - (F.lit(3.0) * F.col("n") * 5)
    return wide.select(
        F.col("n").cast("bigint").alias("n_subjects"),
        "r1_x2",
        "r2_x2",
        "r3_x2",
        "r4_x2",
        fround(qstat, 6).alias("friedman_q"),
    )
