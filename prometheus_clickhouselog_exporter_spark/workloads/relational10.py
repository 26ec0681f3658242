"""Relational battery, round 3 batch 9: variance-scaled embedding
outliers, cohort lifetime-value curves, and market-concentration (HHI).

Three analytics staples with the repo's exactness discipline: anomaly
ranking by quantized z-distance (the diagonal-Mahalanobis screen run
before expensive review), the cohort-age LTV matrix every growth team
tracks, and the Herfindahl-Hirschman index computed as a ratio of exact
DECIMAL sums — no per-share float accumulation at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import memo
from .core import fround, money, query, table


@query(
    "embedding_outlier_zdist",
    oracle="""
    WITH x_long AS (
      SELECT vec_id, r.j, CAST(embedding[r.j + 1] AS DOUBLE) AS xj
      FROM embeddings, range(64) r(j)
    ),
    n AS (SELECT count(DISTINCT vec_id) AS n FROM x_long),
    stats AS (
      SELECT j,
             (sum(CAST(floor(xj * 1e9) AS BIGINT)) / 1e9) / n.n AS mu,
             (sum(CAST(floor(xj * xj * 1e9) AS BIGINT)) / 1e9) / n.n
               - ((sum(CAST(floor(xj * 1e9) AS BIGINT)) / 1e9) / n.n)
               * ((sum(CAST(floor(xj * 1e9) AS BIGINT)) / 1e9) / n.n) AS var
      FROM x_long, n GROUP BY j, n.n
    ),
    dist AS (
      SELECT vec_id,
             sum(CAST(floor((xj - s.mu) * (xj - s.mu) / s.var * 1e6)
                      AS BIGINT)) AS qdist
      FROM x_long JOIN stats s USING (j)
      GROUP BY vec_id
    )
    SELECT vec_id, CAST(qdist AS BIGINT) AS qdist,
           CAST(qdist AS DOUBLE) / 1e6 AS zdist
    FROM dist
    ORDER BY qdist DESC, vec_id
    LIMIT 20
    """,
)
def embedding_outlier_zdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-scaled outlier ranking (diagonal Mahalanobis): per-dim
    mean/variance from quantized-exact moments, per-vector distance
    Σ(x−μ)²/σ², top-20 most anomalous vectors. The per-term quantization
    (floor ·1e6 → BIGINT) makes the cross-dimension sum order-free, so
    the ranking — the part a review queue consumes — is bit-stable
    across engines and runs; the full-covariance refinement is
    embedding_covariance_matrix + a driver-side solve.

    Scale: the 64-row stats table broadcasts back onto ONE corpus pass
    (the zscore recipe); the distance fold is scan-stage; top-20 is
    TakeOrdered. No pairwise anything.
    """
    d = 64
    emb = table(spark, sf_dir, "embeddings")
    x_long = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("j", "xj"),
    ).localCheckpoint(eager=False)  # stats pass + distance pass share it
    n_row = x_long.agg(F.countDistinct("vec_id").alias("n"))
    stats = (
        x_long.groupBy("j")
        .agg(
            F.sum(F.floor(F.col("xj") * 1e9).cast("long")).alias("s1"),
            F.sum(F.floor(F.col("xj") * F.col("xj") * 1e9).cast("long")).alias("s2"),
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "j",
            ((F.col("s1") / 1e9) / F.col("n")).alias("mu"),
            (
                (F.col("s2") / 1e9) / F.col("n")
                - ((F.col("s1") / 1e9) / F.col("n"))
                * ((F.col("s1") / 1e9) / F.col("n"))
            ).alias("var"),
        )
    )
    term = F.floor(
        (F.col("xj") - F.col("mu")) * (F.col("xj") - F.col("mu")) / F.col("var") * 1e6
    ).cast("long")
    return (
        x_long.join(F.broadcast(stats), "j")
        .groupBy("vec_id")
        .agg(F.sum(term).alias("qdist"))
        .select("vec_id", "qdist", (F.col("qdist").cast("double") / 1e6).alias("zdist"))
        .orderBy(F.col("qdist").desc(), "vec_id")
        .limit(20)
    )


@query(
    "cohort_ltv_curves",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(strftime(CAST(o_orderdate AS DATE), '%Y-%m')) AS cohort,
             min(year(o_orderdate) * 12 + month(o_orderdate)) AS m0
      FROM orders GROUP BY o_custkey
    ),
    sizes AS (SELECT cohort, count(*) AS n_customers FROM firsts GROUP BY cohort),
    aged AS (
      SELECT f.cohort,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.m0 AS INT)
               AS age,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, age,
             sum(rev) OVER (PARTITION BY cohort ORDER BY age
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev
      FROM aged
    )
    SELECT cum.cohort, cum.age,
           CAST(s.n_customers AS BIGINT) AS n_customers,
           CAST(cum.cum_rev AS DOUBLE) AS cum_revenue,
           CAST(cum.cum_rev AS DOUBLE) / CAST(s.n_customers AS DOUBLE)
             AS ltv_per_customer
    FROM cum JOIN sizes s USING (cohort)
    WHERE cum.age <= 24
    ORDER BY cohort, age
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by months-since-acquisition (integer
    month arithmetic, no date intervals), LTV = exact DECIMAL cumulative
    revenue over the cohort's headcount — one division at the end. The
    money companion to cohort_retention_events (which counts activity);
    the age cap keeps the matrix readable.

    Scale: first-order month is one customer-keyed aggregate (reused for
    cohort sizes); the age rollup rides a fact join against that
    checkpointed frame; the cumulative window partitions by cohort over
    AGE-cardinality rows (≤ months², bounded).
    """
    o = table(spark, sf_dir, "orders")
    ym = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = (
        o.groupBy("o_custkey")
        .agg(
            F.min(F.date_format("o_orderdate", "yyyy-MM")).alias("cohort"),
            F.min(ym).alias("m0"),
        )
        .localCheckpoint(eager=False)  # feeds sizes and the age join
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_customers"))
    aged = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort", (ym - F.col("m0")).cast("int").alias("age")
        )
        .agg(F.sum(money(F.col("o_totalprice"))).alias("rev"))
    )
    wc = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = aged.select("cohort", "age", F.sum("rev").over(wc).alias("cum_rev"))
    return (
        cum.join(F.broadcast(sizes), "cohort")
        .where(F.col("age") <= 24)
        .select(
            "cohort",
            "age",
            F.col("n_customers"),
            F.col("cum_rev").cast("double").alias("cum_revenue"),
            (
                F.col("cum_rev").cast("double") / F.col("n_customers").cast("double")
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort", "age")
    )


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS c
      FROM events GROUP BY 1
    ),
    k AS (
      SELECT CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) + 1
               AS kref
      FROM daily
    ),
    pref AS (
      SELECT d, c,
             sum(c - k.kref) OVER (ORDER BY d
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS p
      FROM daily, k
    ),
    cusum AS (
      SELECT d, c, p,
             p - least(0, min(p) OVER (ORDER BY d
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)) AS s
      FROM pref
    )
    SELECT strftime(d, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN s > 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_days,
           CAST(max(s) AS BIGINT) AS max_cusum
    FROM cusum GROUP BY 1 ORDER BY month
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event-rate series,
    computed WITHOUT the textbook recursion: S_t = max(0, S_{t−1} + x_t
    − k) is not window-expressible, but its closed form S_t = P_t −
    min(0, min_{j≤t} P_j) over the drift-adjusted prefix sum P IS — one
    running sum and one running min on the same sort. Reference rate k =
    ⌊mean⌋+1 (integer), so the whole statistic is exact integers and the
    alarm threshold (S > 20) cannot flake. Monthly rollup reports alarm
    days and the peak statistic — the drift monitor that catches slow
    rate creep a fixed z-score threshold misses.

    Scale: the series is DAY-cardinality, so the global-order windows
    ride a bounded exchange (the backlog sweep-line argument); the fact
    scan folds to daily counts map-side. For per-key CUSUM the same
    windows partition by key.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    k = daily.agg(
        (
            F.floor(F.sum("c").cast("double") / F.count(F.lit(1))).cast("long") + 1
        ).alias("kref")
    )
    # ONE frame serves both running aggregates since the j<=t fix:
    # prefix sum and running min share UNBOUNDED..CURRENT ROW
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pref = daily.crossJoin(F.broadcast(k)).select(
        "d", "c", F.sum(F.col("c") - F.col("kref")).over(wp).alias("p")
    )
    cusum = pref.select(
        "d",
        "c",
        (
            F.col("p")
            - F.least(F.lit(0).cast("long"), F.min("p").over(wp))
        ).alias("s"),
    )
    return (
        cusum.groupBy(F.date_format("d", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(F.col("s") > 20, 1).otherwise(0)).alias("n_alarm_days"),
            F.max("s").alias("max_cusum"),
        )
        .orderBy("month")
    )


@query(
    "stats_median_ci_rank_bounds",
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ),
    bounds AS (
      SELECT lang, n_chars, rn, n,
             greatest(1, CAST(floor((n - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2)
                              AS BIGINT)) AS rlo,
             least(n, CAST(ceil(1 + (n + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2)
                           AS BIGINT)) AS rhi
      FROM ranked
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                         THEN n_chars END) AS BIGINT) AS median,
           CAST(max(CASE WHEN rn = rlo THEN n_chars END) AS BIGINT) AS ci_lo,
           CAST(max(CASE WHEN rn = rhi THEN n_chars END) AS BIGINT) AS ci_hi
    FROM bounds GROUP BY lang ORDER BY lang
    """,
)
def stats_median_ci_rank_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN by
    binomial order-statistic rank bounds (normal approximation:
    ranks (n ± z√n)/2) — no resampling, no distributional assumption,
    just two extra rank selections on the same ordered window the
    discrete median already uses. The bounds are corpus VALUES (like the
    quantiles), so everything the driver hashes is integer-exact; the
    only floats are the rank formulas, identical single-op chains both
    engines. Complements stats_bootstrap_ci_mean: that resamples for the
    mean, this rank-selects for the median — the two standard
    uncertainty recipes for a data card.

    Scale: one lang-partitioned window; degrade path for
    data-cardinality groups is the same as the quantile family.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("lang")
    z = 1.959964
    n = F.col("n")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    rlo = F.greatest(
        F.lit(1).cast("long"),
        F.floor((n - z * F.sqrt(n.cast("double"))) / 2).cast("long"),
    )
    rhi = F.least(
        n, F.ceil(1 + (n + z * F.sqrt(n.cast("double"))) / 2).cast("long")
    )
    bounds = ranked.select(
        "lang", "n_chars", "rn", "n", rlo.alias("rlo"), rhi.alias("rhi")
    )

    def at(rank_col):
        return F.max(
            F.when(F.col("rn") == rank_col, F.col("n_chars"))
        ).cast("long")

    return (
        bounds.groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            at(F.ceil(F.col("n") * 0.5).cast("long")).alias("median"),
            at(F.col("rlo")).alias("ci_lo"),
            at(F.col("rhi")).alias("ci_hi"),
        )
        .orderBy("lang")
    )


@query(
    "search_prefix_autocomplete",
    oracle="""
    WITH pop AS (
      SELECT p.p_name AS name,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_name
    ),
    pref AS (
      SELECT substr(name, 1, lp.l) AS prefix, name, qty
      FROM pop, (SELECT unnest([1, 2, 3]) AS l) lp
      WHERE length(name) >= lp.l
    ),
    ranked AS (
      SELECT prefix, name, qty,
             row_number() OVER (PARTITION BY prefix
                                ORDER BY qty DESC, name) AS rk
      FROM pref
    )
    SELECT prefix, CAST(rk AS INT) AS rk, name, qty
    FROM ranked WHERE rk <= 3
    ORDER BY prefix, rk
    """,
)
def search_prefix_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete index build: for every name prefix of length 1-3, the
    top-3 part names by units sold — the precomputed suggestion table a
    search box serves from. Popularity is an exact integer (total
    quantity), so the (qty DESC, name) ranking is deterministic and the
    per-prefix top-3 plans as WindowGroupLimit — map-side top-N below
    the prefix shuffle, the same trick as the quota/tf-idf rows.

    Scale: names aggregate once against a broadcast part dim; the ×3
    prefix explode is bounded; the index is prefix-cardinality. Deeper
    prefixes extend the explode linearly — this is exactly how
    production typeahead tables are refreshed.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pop = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    pref = pop.select(
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(3)),
                    lambda l: F.when(
                        F.length("name") >= l, F.col("name").substr(F.lit(1), l)
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("prefix"),
        "name",
        "qty",
    )
    wr = Window.partitionBy("prefix").orderBy(F.col("qty").desc(), "name")
    return (
        pref.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 3)
        .select("prefix", F.col("rk").cast("int").alias("rk"), "name", "qty")
        .orderBy("prefix", "rk")
    )


@query(
    "growth_streak_customers",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey AS k, CAST(year(o_orderdate) AS INT) AS y,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    flagged AS (
      SELECT k, y, rev,
             lag(y) OVER w AS py, lag(rev) OVER w AS prev,
             lag(y, 2) OVER w AS ppy, lag(rev, 2) OVER w AS pprev
      FROM yearly WINDOW w AS (PARTITION BY k ORDER BY y)
    ),
    streaks AS (
      SELECT k, y FROM flagged
      WHERE py = y - 1 AND ppy = y - 2
        AND rev * 10 > prev * 12
        AND prev * 10 > pprev * 12
    )
    SELECT y AS streak_year,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(k) AS BIGINT) AS example_custkey
    FROM streaks GROUP BY y ORDER BY streak_year
    """,
)
def growth_streak_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sustained-growth detection: customers whose yearly spend grew more
    than 20% in each of TWO consecutive years (and the years are
    actually adjacent — the lag-year guard most streak queries forget).
    The growth test is `rev·10 > prev·12` in exact DECIMAL — no float
    ratio ever exists, so the 1.2× boundary cannot flake cross-engine.
    Output: customers entering a streak per year, the BI "fastest
    sustained growers" feed.

    Scale: one customer-year aggregate, one customer-partitioned window
    carrying both lags on the same sort, then a year rollup — the
    gaps-and-islands family with the island condition in exact
    arithmetic.
    """
    o = table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.col("o_custkey").alias("k"), F.year("o_orderdate").cast("int").alias("y")
    ).agg(F.sum(money(F.col("o_totalprice"))).alias("rev"))
    w = Window.partitionBy("k").orderBy("y")
    flagged = yearly.select(
        "k",
        "y",
        "rev",
        F.lag("y").over(w).alias("py"),
        F.lag("rev").over(w).alias("prev"),
        F.lag("y", 2).over(w).alias("ppy"),
        F.lag("rev", 2).over(w).alias("pprev"),
    )
    streaks = flagged.where(
        (F.col("py") == F.col("y") - 1)
        & (F.col("ppy") == F.col("y") - 2)
        & (F.col("rev") * 10 > F.col("prev") * 12)
        & (F.col("prev") * 10 > F.col("pprev") * 12)
    )
    return (
        streaks.groupBy(F.col("y").alias("streak_year"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("k").alias("example_custkey"),
        )
        .orderBy("streak_year")
    )


# Corpus size past which dedup_weighted_jaccard dispatches to the ICWS
# sketch arm (candidates + exact re-rank) instead of an exact pair join.
# Tests lower it to exercise the arm on the small fixtures.
_ICWS_DOCS = 200_000


def _dense_broadcast(spark: SparkSession, corpus: tuple, build):
    """The broadcast of ``build()`` for ``corpus`` (a ``core.corpus_key``),
    memoized per table and sf_dir and versioned by (Spark application,
    provenance) (ADVICE r13 #2, r14 #1): every query BUILD used to collect
    and re-broadcast the (n_docs × |V|) int64 profile matrix and never
    destroy it — bench builds each query 3× (warm-up + 2 timed passes),
    leaking ~n_docs·|V|·8 bytes per build for the session lifetime. A
    superseded entry of this application is destroyed, another
    application's only dropped (``tables.memo``)."""
    name, sf_dir, provenance = corpus
    sc = spark.sparkContext
    return memo(
        ("dense_bc", name, sf_dir), (sc.applicationId, provenance),
        lambda: sc.broadcast(build()),
    )


@query(
    "dedup_weighted_jaccard",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    totals AS (SELECT doc_id, sum(tf) AS t FROM tf GROUP BY doc_id),
    mins AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             sum(least(a.tf, b.tf)) AS smin
      FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(smin AS BIGINT) AS sum_min,
           CAST(ta.t + tb.t - smin AS BIGINT) AS sum_max,
           CAST(smin AS DOUBLE) / CAST(ta.t + tb.t - smin AS DOUBLE)
             AS weighted_jaccard,
           CASE WHEN (SELECT count(*) FROM documents) > 200000 THEN 'icws'
                WHEN (SELECT count(DISTINCT tok) FROM tf) <= 2048 THEN 'dense'
                ELSE 'postings' END AS arm
    FROM mins
    JOIN totals ta ON ta.doc_id = mins.id_a
    JOIN totals tb ON tb.doc_id = mins.id_b
    WHERE smin * 3 >= ta.t + tb.t
    ORDER BY id_a, id_b
    """,
)
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED (multiset) Jaccard near-dup detection: similarity =
    Σmin(tf_a,tf_b) / Σmax(tf_a,tf_b) over token FREQUENCIES, where the
    binary shingle Jaccard saturates on repetitive documents (a doc of
    "the the the…" matches any other such doc perfectly under sets; the
    weighted form sees the frequency profile). The denominator needs no
    union scan: Σmax = T_a + T_b − Σmin with per-doc token totals — so
    everything is exact integers and the ≥0.5 cut is the cross-multiply
    `3·Σmin ≥ T_a + T_b`.

    Scale — ADAPTIVE plan (r8 vocab dispatch; r10 adds the corpus-scale
    sketch arm per the r9 verdict): corpus size, then vocabulary,
    decide. The `arm` output column names the branch taken, and the
    oracle derives the same name from the same corpus statistics, so
    the dispatch decision itself is hash-certified.

    - **ICWS arm** (docs > 200k — `_ICWS_DOCS`): banded
      consistent-weighted-sampling candidates (band width 2: P(cand|J)
      = 1-(1-J²)^16 = 0.990 at the J>=0.5 cut) + the posting re-rank
      RESTRICTED TO CANDIDATES — exact on raw tf, so precision is 1 and
      band width costs recall only. This is the plan that survives 10⁷
      docs: neither the quadratic dense pair join nor the full posting
      join ever runs; pair work is bounded by sketch collisions.
      Pinned by tests/test_llmdata28.py with the threshold lowered — at
      sf0.001 the arm recalls 100% of exact J>=0.5 pairs.

    - **Dense-vocab path** (|V| <= 2048, one cheap distinct-count to
      decide — this corpus: ~31 tokens): with a tiny vocabulary every
      doc pair shares tokens, so the inverted-index join degenerates to
      Σ|posting|² exploded rows (~6e8 at sf0.1) that must then SHUFFLE
      into per-pair groups — all cost, no pruning. Instead each doc
      becomes ONE vocab-indexed tf array and the pair space evaluates
      as numpy block matrix work in mapInPandas via the exact identity
      Σmin = (T_a + T_b − L1)/2 (r13; the r8-r12 form was a broadcast
      NLJ with a per-pair zip_with fold — 141 s naive → ~8 s NLJ →
      ~2 s numpy). No exploded shuffle exists; only qualifying pairs
      cross the Arrow boundary. The qualifying OUTPUT here is itself
      ~10% of all pairs (1.32M rows) — inherently quadratic on this
      corpus, which is exactly when profiles beat postings.
    - **Sparse-vocab path** (web corpus, |V| ~ 1e7): the original
      inverted-index posting join — postings are short, co-occurrence
      bounds the pair space, and dense |V|-arrays would be absurd.

    The sketch machinery is shared with `dedup_weighted_jaccard_icws`
    (llmdata28.icws_candidates — the r9 sibling keeps its tighter
    J>=0.8 cut and 4-wide bands as the standalone certified entry).
    """
    from .llmdata28 import icws_candidates

    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # totals + both join sides reuse
    )

    def _finish(pairs, arm: str):
        smax = F.col("ta") + F.col("tb") - F.col("smin")
        return (
            pairs.where(F.col("smin") * 3 >= F.col("ta") + F.col("tb"))
            .select(
                "id_a",
                "id_b",
                F.col("smin").cast("bigint").alias("sum_min"),
                smax.cast("bigint").alias("sum_max"),
                (F.col("smin").cast("double") / smax.cast("double")).alias(
                    "weighted_jaccard"
                ),
                F.lit(arm).alias("arm"),
            )
            .orderBy("id_a", "id_b")
        )

    totals = tf.groupBy("doc_id").agg(F.sum("tf").alias("t"))
    if d.count() > _ICWS_DOCS:
        cand = icws_candidates(tf, band_width=2).localCheckpoint(eager=False)
        fa = tf.select(F.col("doc_id").alias("id_a"), "tok", F.col("tf").alias("tfa"))
        fb = tf.select(F.col("doc_id").alias("id_b"), "tok", F.col("tf").alias("tfb"))
        ta_t = totals.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
        tb_t = totals.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
        pairs = (
            cand.join(fa, "id_a")
            .join(fb, ["id_b", "tok"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.least("tfa", "tfb")).alias("smin"))
            .join(ta_t, "id_a")
            .join(tb_t, "id_b")
        )
        return _finish(pairs, "icws")
    vocab = tf.select("tok").distinct()
    n_vocab = vocab.count()
    if n_vocab <= 2048:
        vidx = vocab.withColumn(
            "i", F.row_number().over(Window.orderBy("tok")).cast("int")
        )
        prof = (
            tf.join(F.broadcast(vidx), "tok")
            .groupBy("doc_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("i"), F.col("tf")))
                ).alias("m"),
                F.sum("tf").alias("t"),
            )
            .select(
                "doc_id",
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_vocab)),
                    lambda i: F.coalesce(
                        F.element_at(F.col("m"), i), F.lit(0).cast("bigint")
                    ),
                ).alias("v"),
                "t",
            )
            .localCheckpoint(eager=False)
        )
        # r13 optimization pass (guide §4.2): the previous dense arm was a
        # 12.5M-ordered-pair broadcast-NLJ whose join condition and
        # zip_with(least)+aggregate fold ran pair-at-a-time in codegen
        # (~6.5-8.7 s at sf0.1, almost entirely the BNLJ stage). Σmin over
        # dense tf profiles has a closed form through the L1 distance —
        #   Σmin(a,b) = (T_a + T_b − Σ|a_k − b_k|) / 2, exact in int64 —
        # so the whole pair space evaluates as numpy block matrix work
        # inside mapInPandas. Each task holds the (n_docs × |V|) int64
        # profile matrix once (collected+broadcast — the SAME bound as the
        # F.broadcast(b) build side it replaces: dense arm requires
        # |V| ≤ 2048 and corpus ≤ _ICWS_DOCS), streams its slice of a-rows
        # against it in |V|-pass accumulation (no m×n×|V| temp), and emits
        # only qualifying pairs across the Arrow boundary. The explicit
        # length-compat prefilter is subsumed: 3·Σmin ≥ T_a+T_b implies it.
        import numpy as np

        from .core import corpus_key

        def profiles():
            rows = prof.select("doc_id", "v", "t").collect()
            all_ids = np.fromiter((r["doc_id"] for r in rows), dtype=np.int64)
            all_t = np.fromiter((r["t"] for r in rows), dtype=np.int64)
            all_v = (
                np.array([r["v"] for r in rows], dtype=np.int64)
                if rows
                else np.zeros((0, n_vocab), dtype=np.int64)
            )
            return all_ids, all_t, all_v

        bc = _dense_broadcast(spark, corpus_key(sf_dir, "documents"), profiles)

        def pair_blocks(batches):
            import pandas as pd

            b_ids, b_t, b_v = bc.value
            n = len(b_ids)
            for pdf in batches:
                if not len(pdf) or n == 0:
                    continue
                a_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
                a_t = pdf["t"].to_numpy(dtype=np.int64)
                a_v = np.array(list(pdf["v"]), dtype=np.int64)
                for lo in range(0, len(pdf), 1024):
                    hi = min(lo + 1024, len(pdf))
                    blk = a_v[lo:hi]
                    l1 = np.zeros((hi - lo, n), dtype=np.int64)
                    for k in range(blk.shape[1]):
                        l1 += np.abs(blk[:, k, None] - b_v[None, :, k])
                    tsum = a_t[lo:hi, None] + b_t[None, :]
                    smin = (tsum - l1) // 2
                    keep = (a_ids[lo:hi, None] < b_ids[None, :]) & (
                        3 * smin >= tsum
                    )
                    ii, jj = np.nonzero(keep)
                    yield pd.DataFrame(
                        {
                            "id_a": a_ids[lo:hi][ii],
                            "id_b": b_ids[jj],
                            "smin": smin[ii, jj],
                            "ta": a_t[lo:hi][ii],
                            "tb": b_t[jj],
                        }
                    )

        pairs = prof.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
            pair_blocks,
            "id_a bigint, id_b bigint, smin bigint, ta bigint, tb bigint",
        )
        return _finish(pairs, "dense")
    a = tf.select(F.col("doc_id").alias("id_a"), "tok", F.col("tf").alias("tfa"))
    b = tf.select(F.col("doc_id").alias("id_b"), "tok", F.col("tf").alias("tfb"))
    mins = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("tfa", "tfb")).alias("smin"))
    )
    ta = totals.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    tb = totals.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    return _finish(mins.join(ta, "id_a").join(tb, "id_b"), "postings")


@query(
    "market_hhi_by_brand",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand AS brand, l.l_suppkey AS supp,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT brand,
             count(*) AS n_suppliers,
             sum(r) AS total,
             sum(r * r) AS sum_sq
      FROM rev GROUP BY brand
    )
    SELECT brand,
           CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(total AS DOUBLE) AS total_revenue,
           floor(CAST(sum_sq AS DOUBLE)
                 / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) * 10000
                 * 1e6 + 0.5) / 1e6 AS hhi
    FROM agg ORDER BY brand
    """,
)
def market_hhi_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per brand: HHI =
    Σshare² ×10000, computed WITHOUT per-share floats — Σshare² =
    Σr²/(Σr)², so both sums stay exact DECIMAL (squares of 2-decimal
    money are exact 4-decimal values) and the only float work is one
    division and one scale at the end, fround(6)-absorbed because a
    DECIMAL(38,4) sum exceeds double's 53-bit exact range and the two
    engines' decimal->double conversions can differ in the last ulp. HHI near 10000/n = competitive,
    near 10000 = monopoly — the supplier-diversification risk metric.

    Scale: one fact aggregate to (brand, supplier) cells with a
    broadcast part join, then a brand rollup of count/sum/sum-of-squares
    — all map-side-combining; output is brand-cardinality.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("supp"))
        # re-pin the sum to DECIMAL(18,2): Spark widens sums to (28,2), and
        # (28,2)^2 would exceed precision 38 and silently round — the square
        # must happen at a width both engines keep exact.
        .agg(F.sum(money(F.col("l_extendedprice"))).cast("decimal(18,2)").alias("r"))
    )
    agg = rev.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").alias("total"),
        F.sum(F.col("r") * F.col("r")).alias("sum_sq"),
    )
    return agg.select(
        "brand",
        F.col("n_suppliers"),
        F.col("total").cast("double").alias("total_revenue"),
        fround(
            F.col("sum_sq").cast("double")
            / (F.col("total").cast("double") * F.col("total").cast("double"))
            * 10000,
            6,
        ).alias("hhi"),
    ).orderBy("brand")
