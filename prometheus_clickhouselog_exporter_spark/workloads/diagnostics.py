"""Behavioral-sequence and distribution-diagnostic operators (r3 batch 3):
event-transition Markov matrix, population-stability drift (PSI), and
join-key skew profiling — the observability queries a 100 TB pipeline
runs about ITSELF (is the key distribution joinable? did the input drift
since yesterday's snapshot?) plus sequence features for behavior models.

Reference analog: the exporter's per-type counters (metrics.go:23-40) are
degenerate 1-step distribution snapshots; these generalize to transitions
and cross-snapshot comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rounds import rounds
from .core import fround, name_graph, query, table


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    trans AS (
      SELECT prev, event_type AS next, count(*) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, next
    ),
    totals AS (SELECT prev, sum(n) AS tot FROM trans GROUP BY prev)
    SELECT t.prev, t.next, t.n,
           floor(CAST(t.n AS DOUBLE) / tot.tot * 1000000 + 0.5) / 1000000 AS p
    FROM trans t JOIN totals tot USING (prev)
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next | prev) with counts — the behavioral-feature table
    session-based recommenders and anomaly models train on. Probability
    is an exact integer ratio under one IEEE division (no libm).

    100 TB: ONE shuffle on user_id for the lag window; the transition
    aggregation re-keys to the 25-cell (prev, next) space, whose partial
    aggregation collapses each mapper's output to ≤25 rows — the
    exchange after the window is label-cardinality, not data-sized.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.lag("event_type").over(w).alias("prev"))
    trans = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("prev")
    return trans.select(
        "prev",
        "next",
        "n",
        fround(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias("p"),
    )


@query(
    "drift_psi_value_halves",
    oracle="""
    WITH bucketed AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'ref' ELSE 'cur' END AS half,
             least(CAST(floor(value / 50) AS BIGINT), 7) AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    counts AS (
      SELECT bucket,
             sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM bucketed GROUP BY bucket
    ),
    tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM counts)
    SELECT c.bucket, CAST(c.n_ref AS BIGINT) AS n_ref, CAST(c.n_cur AS BIGINT) AS n_cur,
           CASE WHEN c.n_ref = 0 OR c.n_cur = 0 THEN NULL
                ELSE floor((CAST(c.n_cur AS DOUBLE) / t.tc - CAST(c.n_ref AS DOUBLE) / t.tr)
                     * ln((CAST(c.n_cur AS DOUBLE) / t.tc) / (CAST(c.n_ref AS DOUBLE) / t.tr))
                     * 1000000 + 0.5) / 1000000 END AS psi_term
    FROM counts c, tot t
    """,
)
def drift_psi_value_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of the
    month, per value bucket: psi_term = (q−p)·ln(q/p); Σ terms > 0.2 is
    the standard "input drifted, retrain/investigate" alarm. The
    distribution-drift check a pipeline runs between yesterday's corpus
    snapshot and today's.

    100 TB: both halves bucket in the SAME scan (conditional partial
    aggregation — no second pass, no join of two snapshots); the
    exchange carries 8 bucket rows per mapper. ln() is libm and may
    differ by 1 ulp across engines — acceptable here because psi_term is
    a reported magnitude, not a rank key, and fround(6) absorbs it.

    Zero-count buckets (a corpus so small one half misses a bucket —
    the sf0.001 sweep caught this, r4) emit NULL: (q−p)·ln(q/p) is
    undefined at 0, and NULL is the honest report — production PSI
    either ε-smooths or, like here, surfaces the bucket for the caller
    to decide (Spark's log(0) silently NULLs while DuckDB's ln(0)
    RAISES, so the explicit CASE is also what keeps both engines
    comparable).
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    half = F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "ref").otherwise(
        "cur"
    )
    bucket = F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(7))
    counts = (
        e.select(half.alias("half"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    q = F.col("n_cur").cast("double") / F.col("tc")
    p = F.col("n_ref").cast("double") / F.col("tr")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            fround((q - p) * F.log(q / p), 6),
        ).alias("psi_term"),
    )


@query(
    "keyskew_gini_customers",
    oracle="""
    WITH k AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n, o_custkey) AS i,
             count(*) OVER () AS nk, sum(n) OVER () AS tot
      FROM k
    )
    SELECT CAST(max(nk) AS BIGINT) AS n_keys,
           CAST(max(tot) AS BIGINT) AS n_rows,
           CAST(max(n) AS BIGINT) AS max_key_rows,
           floor((2.0 * sum(CAST(i AS DOUBLE) * n) / (max(nk) * max(tot))
                  - CAST(max(nk) + 1 AS DOUBLE) / max(nk))
                 * 1000000 + 0.5) / 1000000 AS gini
    FROM ranked
    """,
)
def keyskew_gini_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for orders.o_custkey: key count, row count,
    hottest key, and the Gini coefficient of the per-key row distribution
    (0 = uniform, →1 = one key owns the table). The pre-flight check that
    decides whether a planned 100 TB join needs salting/AQE skew handling
    BEFORE burning cluster-hours; everything except the rank is integer
    arithmetic, and the rank order (n, key) is total, so the result is
    deterministic cross-engine.

    100 TB: per-key counts are one partial+final agg; the global sort for
    ranks runs on the KEY-COUNT table (|keys| rows, not |rows|) — for
    billion-key tables swap in the two-level distributed prefix-sum
    (range_join_value_neighbors' CDF trick) over count buckets.
    """
    o = table(spark, sf_dir, "orders")
    k = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy("n", "o_custkey")
    wall = Window.partitionBy()
    ranked = k.select(
        "n",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wall).alias("nk"),
        F.sum("n").over(wall).alias("tot"),
    )
    return ranked.agg(
        F.max("nk").alias("n_keys"),
        F.max("tot").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        fround(
            2.0 * F.sum(F.col("i").cast("double") * F.col("n"))
            / (F.max("nk") * F.max("tot"))
            - (F.max("nk") + 1).cast("double") / F.max("nk"),
            6,
        ).alias("gini"),
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           floor(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)
                 * 10000 + 0.5) / 10000 AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: yesterday's corpus statistics
    (base = every source but src0) MERGED with today's delta batch (src0)
    must equal a full recompute — which is exactly what the oracle checks.
    Only algebraic partials cross the merge: (count, sum, sum); the
    derived mean is computed AFTER merging, never averaged-of-averages.

    100 TB: this is why the nightly stats job costs O(delta), not
    O(corpus) — the base aggregate is a materialized table and each
    increment folds in with a union + re-aggregation of partial rows
    (per-lang cardinality, not data). The plan here scans both halves
    (nothing persists between driver queries) but has the production
    merge SHAPE: two independent partial aggs → union → final agg.
    """
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )

    base = partial(d.filter(F.col("source") != "src0"))
    delta = partial(d.filter(F.col("source") == "src0"))
    merged = base.unionByName(delta).groupBy("lang").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("total_chars").alias("total_chars"),
    )
    return merged.select(
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        fround(F.col("total_tokens").cast("double") / F.col("n_docs"), 4).alias("avg_tokens"),
    )


@query(
    "graph_pagerank_names",
    oracle="""
    WITH nm AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nm),
    e AS (
      SELECT a.p_name AS src, b.p_name AS dst
      FROM nm a JOIN nm b
        ON a.blk = b.blk AND a.p_name <> b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
    p0 AS (SELECT p_name, 1.0 / (SELECT c FROM nn) AS p FROM nm),
    p1 AS (
      SELECT nm.p_name,
             0.15 / (SELECT c FROM nn)
             + 0.85 * coalesce(sum(pp.p / deg.d), 0.0) AS p
      FROM nm
      LEFT JOIN e ON e.dst = nm.p_name
      LEFT JOIN deg ON deg.src = e.src
      LEFT JOIN p0 pp ON pp.p_name = e.src
      GROUP BY nm.p_name
    ),
    p2 AS (
      SELECT nm.p_name,
             0.15 / (SELECT c FROM nn)
             + 0.85 * coalesce(sum(pp.p / deg.d), 0.0) AS p
      FROM nm
      LEFT JOIN e ON e.dst = nm.p_name
      LEFT JOIN deg ON deg.src = e.src
      LEFT JOIN p1 pp ON pp.p_name = e.src
      GROUP BY nm.p_name
    ),
    p3 AS (
      SELECT nm.p_name,
             0.15 / (SELECT c FROM nn)
             + 0.85 * coalesce(sum(pp.p / deg.d), 0.0) AS p
      FROM nm
      LEFT JOIN e ON e.dst = nm.p_name
      LEFT JOIN deg ON deg.src = e.src
      LEFT JOIN p2 pp ON pp.p_name = e.src
      GROUP BY nm.p_name
    )
    SELECT nm.p_name,
           coalesce(deg.d, 0.0) AS degree,
           floor(p3.p * 1000000 * 10000 + 0.5) / 10000 AS pr_x1e6
    FROM nm JOIN p3 USING (p_name) LEFT JOIN deg ON deg.src = nm.p_name
    """,
)
def graph_pagerank_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, d = 0.85, simple variant without
    dangling-mass redistribution) over the name-similarity graph — nodes
    are DISTINCT part names, edges are Levenshtein ≤ 2 within a block
    (``core.name_graph``). The iterative-algorithm pattern next to connected components
    (operators/dedup.py): rank loop in the driver, each step one
    contribution join + aggregation.

    100 TB: nodes/edges here derive distinct-first (the ER trick) so the
    graph is vocabulary-sized; on a billion-node graph each iteration is
    one shuffle of contributions keyed by dst, the rank vector gets
    `localCheckpoint` every few steps to cut lineage (the CC pattern,
    ``dedup.min_label_rounds``), and fixed iteration count keeps the job
    graph static. Deterministic: fixed iterations, no RNG; ±1-ulp sum-order
    slack is absorbed by fround after scaling to per-million units.
    """
    nm, e = name_graph(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    n_nodes = nm.count()  # vocabulary-sized by construction (distinct-first)
    ranks = nm.select("p_name", F.lit(1.0 / n_nodes).alias("p"))
    contrib_base = e.join(deg, "src")

    def step(ranks: DataFrame) -> DataFrame:
        contribs = (
            contrib_base.join(ranks, ranks["p_name"] == contrib_base["src"])
            .select("dst", (F.col("p") / F.col("d")).alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("mass"))
        )
        return nm.join(contribs, nm["p_name"] == contribs["dst"], "left").select(
            "p_name",
            (0.15 / n_nodes + 0.85 * F.coalesce(F.col("mass"), F.lit(0.0))).alias("p"),
        )

    ranks = rounds(ranks, step, 3)[-1]
    return (
        nm.join(ranks, "p_name")
        .join(deg, nm["p_name"] == deg["src"], "left")
        .select(
            "p_name",
            F.coalesce(F.col("d"), F.lit(0.0)).alias("degree"),
            fround(F.col("p") * 1_000_000, 4).alias("pr_x1e6"),
        )
    )


@query(
    "scd2_customer_priority_history",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
             lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ),
    changes AS (
      SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate
      FROM ordered WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    hist AS (
      SELECT o_custkey, o_orderpriority AS priority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS valid_to,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS version
      FROM changes
    )
    SELECT o_custkey, priority,
           CAST(valid_from AS VARCHAR) AS valid_from,
           CAST(valid_to AS VARCHAR) AS valid_to,
           CAST(version AS INT) AS version,
           valid_to IS NULL AS is_current
    FROM hist
    """,
)
def scd2_customer_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: each customer's
    order-priority regime as (valid_from, valid_to) intervals with a
    version counter and current flag — the MERGE-free way to construct
    dimension history from an event log (lag to detect changes, lead to
    close intervals), standard for warehouse dims and training-data
    snapshot lineage alike.

    Timestamps cross the driver hash as strings (DuckDB DATE/TIMESTAMP →
    pandas vs Spark datetime mismatch — the r1 rule in COVERAGE.md).

    100 TB: ONE shuffle on the natural key; the change-detect lag, the
    interval-closing lead, and the version rank all stack on that same
    (custkey, date) sort order — Catalyst plans one exchange + one sort
    for all three windows plus no extra pass for the filter between.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderpriority",
            "o_orderdate",
            F.lag("o_orderpriority").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority")))
    )
    # same-date change rows exist at denser SFs — the interval-close and
    # version windows need the full (date, orderkey) tiebreak or the
    # lead()/rank assignment is engine-nondeterministic.
    wh = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return changes.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("string").alias("valid_from"),
        F.lead("o_orderdate").over(wh).cast("string").alias("valid_to"),
        F.row_number().over(wh).alias("version"),
        F.lead("o_orderdate").over(wh).isNull().alias("is_current"),
    )
