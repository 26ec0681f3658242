"""Stats + graph breadth, round 6 batch 3: Cohen's kappa
(inter-annotator agreement between the corpus's labeled language and
the stopword-argmax classifier — the evaluation twin of the confusion
matrix), the Mann–Kendall trend test (the nonparametric
monotone-trend screen over daily series, sign arithmetic only), and
k-core decomposition (iterative degree peeling over the name graph).

All exact integer/sign arithmetic until one final division — the
cross-engine float discipline that keeps every hash stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import fround, kcore_rounds, name_graph, query, table
from .llmdata12 import _langid_case_sql

_KCORE_K = 3
_KCORE_ROUNDS = 3


@query(
    "stats_cohens_kappa",
    oracle=f"""
    WITH pred AS (
      SELECT lang, {_langid_case_sql()} AS lang_pred FROM documents
    ),
    cells AS (
      SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS c
      FROM pred GROUP BY 1, 2
    ),
    rows_ AS (SELECT lang, sum(c) AS r FROM cells GROUP BY 1),
    cols_ AS (SELECT lang_pred, sum(c) AS k FROM cells GROUP BY 1),
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = lang_pred THEN c ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM cells
    ),
    pe AS (
      SELECT CAST(sum(r.r * c.k) AS BIGINT) AS pe_num
      FROM rows_ r JOIN cols_ c ON c.lang_pred = r.lang
    )
    SELECT a.n AS n_docs, a.n_agree,
           floor(CAST(a.n * a.n_agree - p.pe_num AS DOUBLE)
                 / CAST(a.n * a.n - p.pe_num AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS kappa
    FROM agg a CROSS JOIN pe p
    """,
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the labeled language column and the
    stopword-argmax classifier — chance-corrected agreement, the
    standard inter-annotator / model-vs-gold summary the confusion
    matrix (langid_confusion_matrix) feeds. Closed form in exact
    integers: κ = (n·Σdiag − Σ_l row_l·col_l) / (n² − Σ_l row_l·col_l),
    one double division at the end (fround 6). The multi-BNLJ-shaped
    cross join pairs two 1-row aggregates — the vetted bounded pattern.

    100 TB: one scan to the (langs × langs) contingency, everything
    after is constant-size."""
    from ..operators.textstats import language_id

    d = table(spark, sf_dir, "documents")
    cells = (
        d.select("lang", language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # feeds rows/cols/diag folds
    )
    rows_ = cells.groupBy("lang").agg(F.sum("c").alias("r"))
    cols_ = cells.groupBy("lang_pred").agg(F.sum("c").alias("k"))
    agg = cells.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("c")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    pe = rows_.join(cols_, rows_["lang"] == cols_["lang_pred"]).agg(
        F.sum(F.col("r") * F.col("k")).alias("pe_num")
    )
    out = agg.crossJoin(pe)
    kappa = (
        (F.col("n") * F.col("n_agree") - F.col("pe_num")).cast("double")
        / (F.col("n") * F.col("n") - F.col("pe_num")).cast("double")
    )
    return out.select(
        F.col("n").alias("n_docs"), "n_agree", fround(kappa, 6).alias("kappa")
    )


@query(
    "stats_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS tot
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.tot > a.tot THEN 1
                  WHEN b.tot < a.tot THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           CAST((SELECT count(*) FROM daily d
                 WHERE d.event_type = p.event_type) AS BIGINT) AS n_days,
           CAST(sum(sgn) AS BIGINT) AS s,
           CAST(count_if(sgn = 1) AS BIGINT) AS concordant,
           CAST(count_if(sgn = -1) AS BIGINT) AS discordant,
           CAST(count_if(sgn = 0) AS BIGINT) AS tied,
           floor(CAST(sum(sgn) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS tau_a
    FROM pairs p GROUP BY event_type ORDER BY event_type
    """,
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend statistic per event type over the
    daily revenue series: S = Σ_{i<j} sign(x_j − x_i), with the
    concordant/discordant/tied decomposition and Kendall's τ_a = S /
    C(n,2). The nonparametric trend screen (is this metric drifting?)
    that needs no distributional assumption — the hypothesis-test
    sibling of the Theil–Sen slope already in the registry, over
    integer-quantized daily totals so every sign comparison is exact.

    Plan: daily totals first (30-row series per type), THEN the
    pairwise self-join — O(types · days²) = 4.5k comparisons, not an
    events-scale blowup; the checkpoint keeps the daily fold single.
    100 TB: identical — pair work scales with the SERIES length, never
    the corpus."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.floor(F.sum("value") * 100 + F.lit(0.5)).cast("bigint").alias("tot"))
        .localCheckpoint(eager=False)  # both self-join sides + n_days
    )
    a = daily.select("event_type", F.col("day").alias("da"), F.col("tot").alias("ta"))
    b = daily.select("event_type", F.col("day").alias("db"), F.col("tot").alias("tb"))
    sgn = (
        F.when(F.col("tb") > F.col("ta"), 1)
        .when(F.col("tb") < F.col("ta"), -1)
        .otherwise(0)
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select("event_type", sgn.alias("sgn"))
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    stats = pairs.groupBy("event_type").agg(
        F.sum("sgn").alias("s"),
        F.count_if(F.col("sgn") == 1).alias("concordant"),
        F.count_if(F.col("sgn") == -1).alias("discordant"),
        F.count_if(F.col("sgn") == 0).alias("tied"),
        F.count(F.lit(1)).alias("np"),
    )
    return (
        stats.join(nd, "event_type")
        .select(
            "event_type",
            "n_days",
            "s",
            "concordant",
            "discordant",
            "tied",
            fround(F.col("s").cast("double") / F.col("np"), 6).alias("tau_a"),
        )
        .orderBy("event_type")
    )


def _kcore_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
      SELECT a.p_name FROM {prev} a
      JOIN e ON e.src = a.p_name
      JOIN {prev} b ON b.p_name = e.dst
      GROUP BY a.p_name
      HAVING count(*) >= {_KCORE_K}
    )"""


@query(
    "graph_kcore_membership",
    oracle=f"""
    WITH nm AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    e AS MATERIALIZED (
      SELECT a.p_name AS src, b.p_name AS dst
      FROM nm a JOIN nm b
        ON a.blk = b.blk AND a.p_name <> b.p_name
       AND levenshtein(a.p_name, b.p_name) <= 2
    ),
    k0 AS MATERIALIZED (SELECT p_name FROM nm),
    {_kcore_round_sql('k0', 'k1')},{_kcore_round_sql('k1', 'k2')},{_kcore_round_sql('k2', 'k3')}
    SELECT n.p_name, n.blk,
           (n.p_name IN (SELECT p_name FROM k3)) AS in_core
    FROM nm n ORDER BY n.p_name
    """,
)
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by synchronous degree peeling (k=3, three
    rounds): each round keeps only nodes with ≥ k neighbors among
    still-active nodes — the standard dense-subgraph screen (spam-ring
    and community-nucleus detection at crawl scale). Three rounds
    suffice for these vocabulary-sized blocks; membership after the
    final round is emitted per node. Monotone (active sets only
    shrink), so fixed-round truncation under-peels — never mislabels a
    true core member — and the oracle runs the same truncation.

    Plan (``core.kcore_rounds``, graph_kcore_peel's round over the
    oriented edges): per round broadcast semi-joins of the edge list
    against the active set + one degree count; localCheckpoint cuts
    round lineage. 100 TB: identical shape; full peeling terminates in
    O(degeneracy) rounds, so a production run would loop until the
    survivor count stops changing — this fixed-round form runs no such
    stop."""
    nm, e = name_graph(spark, sf_dir)
    core = kcore_rounds(
        e.filter(F.col("src") < F.col("dst")).select("src", "dst"),
        nm.select(F.col("p_name").alias("id")),
        _KCORE_K,
        _KCORE_ROUNDS,
    )[-1]
    return (
        nm.join(
            core.select(F.col("id").alias("p_name"), F.lit(True).alias("in_core")),
            "p_name",
            "left",
        )
        .select(
            "p_name", "blk", F.coalesce("in_core", F.lit(False)).alias("in_core")
        )
        .orderBy("p_name")
    )
