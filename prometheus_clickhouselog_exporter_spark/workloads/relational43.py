"""Relational battery, round 8 batch 11: closed-form multi-feature OLS
(Cramer's rule over integer normal-equation moments), Welch's t-test,
and Bradley–Terry pairwise preference ratings.

The OLS/Welch pair completes the classical side of the experimentation
family (the resampling side is stats_bootstrap_ci_diff /
stats_randomization_test); Bradley–Terry is the preference-model
operator an RLHF/eval pipeline runs over pairwise judgments — rendered
deterministic by quantizing the strength vector to integer micro-units
between the two unrolled minorization-maximization iterations.

Reference parity note: /root/reference computes none of these
(metrics.go:8-75 counts); §2.3 extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rounds import rounds
from .core import fround, query, table

_BT_ITERS = 2
_BT_Q = 1_000_000  # strength quantization (micro-units) between iters


@query(
    "ml_ols_cramer",
    oracle="""
    WITH obs AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS y,
             CAST(hour(ts) AS BIGINT) AS x1,
             CAST(isodow(ts) - 1 AS BIGINT) AS x2
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x2 * x2) AS BIGINT) AS s22,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * y) AS BIGINT) AS s1y,
             CAST(sum(x2 * y) AS BIGINT) AS s2y,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM obs
    ),
    d AS (
      SELECT *,
        CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
          - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
          + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)
          AS det
      FROM m
    ),
    beta AS (
      SELECT n, syy, sy, s1y, s2y,
        (CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
         - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
         + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2y))
          / det AS b0,
        (CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
         - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
         + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2))
          / det AS b1,
        (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s12)
         - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)
         + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2))
          / det AS b2
      FROM d
    )
    SELECT n AS n_obs,
           floor(b0 * 1e6 + 0.5) / 1e6 AS beta_intercept,
           floor(b1 * 1e6 + 0.5) / 1e6 AS beta_hour,
           floor(b2 * 1e6 + 0.5) / 1e6 AS beta_weekday,
           floor((1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                        / (syy - CAST(sy AS DOUBLE) * sy / n)) * 1e6 + 0.5)
             / 1e6 AS r_squared
    FROM beta
    """,
)
def ml_ols_cramer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature OLS entirely in-plan: regress value (cents) on
    hour-of-day and weekday with an intercept by solving the 3×3 normal
    equations via Cramer's rule — every X'X / X'y moment is an exact
    BIGINT from one aggregate, the determinants expand in doubles from
    identical integers (deterministic on both engines), and R² comes
    from the same moment row via SSE = Σy² − β·X'y. The distributed-
    regression shape that needs NO iteration, no gradient, no driver
    matrix solve — the d×d normal-equation fold works to d ≈ dozens
    before conditioning says switch to QR.

    Companion: timeseries_forecast_backtest (single-regressor OLS over
    time), regr_* family (per-pair moments); this is the multi-feature
    form. Weekday is Monday=0 on both engines (weekday / isodow−1).

    100 TB: ONE map-side-combining aggregate producing a 10-number
    row — planet-scale linear regression is this cheap, which is why
    normal-equation folds are the default tool for low-d fits."""
    obs = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
            F.hour("ts").cast("bigint").alias("x1"),
            F.weekday("ts").cast("bigint").alias("x2"),
        )
    )
    m = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    det = (
        D("n") * (D("s11") * D("s22") - D("s12") * D("s12"))
        - D("s1") * (D("s1") * D("s22") - D("s12") * D("s2"))
        + D("s2") * (D("s1") * D("s12") - D("s11") * D("s2"))
    )
    b0 = (
        D("sy") * (D("s11") * D("s22") - D("s12") * D("s12"))
        - D("s1") * (D("s1y") * D("s22") - D("s12") * D("s2y"))
        + D("s2") * (D("s1y") * D("s12") - D("s11") * D("s2y"))
    ) / det
    b1 = (
        D("n") * (D("s1y") * D("s22") - D("s12") * D("s2y"))
        - D("sy") * (D("s1") * D("s22") - D("s12") * D("s2"))
        + D("s2") * (D("s1") * D("s2y") - D("s1y") * D("s2"))
    ) / det
    b2 = (
        D("n") * (D("s11") * D("s2y") - D("s1y") * D("s12"))
        - D("s1") * (D("s1") * D("s2y") - D("s1y") * D("s2"))
        + D("sy") * (D("s1") * D("s12") - D("s11") * D("s2"))
    ) / det
    sse = D("syy") - b0 * D("sy") - b1 * D("s1y") - b2 * D("s2y")
    sst = D("syy") - D("sy") * D("sy") / D("n")
    return m.select(
        F.col("n").alias("n_obs"),
        fround(b0, 6).alias("beta_intercept"),
        fround(b1, 6).alias("beta_hour"),
        fround(b2, 6).alias("beta_weekday"),
        fround(F.lit(1.0) - sse / sst, 6).alias("r_squared"),
    )


@query(
    "stats_ttest_welch",
    oracle="""
    WITH obs AS (
      SELECT user_id % 2 = 1 AS treated,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT
        CAST(count(CASE WHEN treated THEN 1 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN treated THEN cents END) AS BIGINT) AS s1,
        CAST(sum(CASE WHEN treated THEN cents * cents END) AS BIGINT) AS ss1,
        CAST(count(CASE WHEN NOT treated THEN 1 END) AS BIGINT) AS n2,
        CAST(sum(CASE WHEN NOT treated THEN cents END) AS BIGINT) AS s2,
        CAST(sum(CASE WHEN NOT treated THEN cents * cents END) AS BIGINT)
          AS ss2
      FROM obs
    )
    SELECT n1 AS n_treated, n2 AS n_control,
      floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) * 1e4 + 0.5)
        / 1e4 AS mean_diff_cents,
      floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
            / sqrt(((ss1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
                 + ((ss2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)
            * 1e6 + 0.5) / 1e6 AS t_stat,
      floor(
        (((ss1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
         + ((ss2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)
        * (((ss1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
         + ((ss2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)
        / (
          (((ss1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
          * (((ss1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
          / (n1 - 1)
        + (((ss2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)
          * (((ss2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2)
          / (n2 - 1)
        ) * 1e4 + 0.5) / 1e4 AS welch_df
    FROM m
    """,
)
def stats_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test for the two-group design:
    t = Δmean / √(s₁²/n₁ + s₂²/n₂) with the Welch–Satterthwaite
    degrees of freedom, all from one conditional integer-moment
    aggregate — the classical sibling of stats_randomization_test
    (which needs no distributional assumption but 200× the compute).
    An experiment platform reports both and flags disagreement.

    100 TB: one moment aggregate; the same fold handles any number of
    metrics by adding conditional columns."""
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
        F.count(F.when(t, F.lit(1))).cast("bigint").alias("n1"),
        F.sum(F.when(t, F.col("cents"))).cast("bigint").alias("s1"),
        F.sum(F.when(t, F.col("cents") * F.col("cents")))
        .cast("bigint")
        .alias("ss1"),
        F.count(F.when(~t, F.lit(1))).cast("bigint").alias("n2"),
        F.sum(F.when(~t, F.col("cents"))).cast("bigint").alias("s2"),
        F.sum(F.when(~t, F.col("cents") * F.col("cents")))
        .cast("bigint")
        .alias("ss2"),
    )
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    v1 = ((D("ss1") - D("s1") * D("s1") / D("n1")) / (D("n1") - 1)) / D("n1")
    v2 = ((D("ss2") - D("s2") * D("s2") / D("n2")) / (D("n2") - 1)) / D("n2")
    diff = D("s1") / D("n1") - D("s2") / D("n2")
    df = (v1 + v2) * (v1 + v2) / (
        v1 * v1 / (D("n1") - 1) + v2 * v2 / (D("n2") - 1)
    )
    return m.select(
        F.col("n1").alias("n_treated"),
        F.col("n2").alias("n_control"),
        fround(diff, 4).alias("mean_diff_cents"),
        fround(diff / F.sqrt(v1 + v2), 6).alias("t_stat"),
        fround(df, 4).alias("welch_df"),
    )


# ---- Bradley–Terry -------------------------------------------------

_BT_GAMES_SQL = """
    games AS (
      SELECT a.source AS sa, b.source AS sb,
             CASE WHEN a.n_chars > b.n_chars THEN a.source
                  WHEN a.n_chars < b.n_chars THEN b.source
                  ELSE a.source END AS winner
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0 AND a.source <> b.source
    ),
    players AS (
      SELECT sa AS s FROM games UNION SELECT sb FROM games
    ),
    wl AS (
      SELECT s,
             CAST(sum(w) AS BIGINT) AS wins,
             CAST(count(*) AS BIGINT) AS games
      FROM (
        SELECT sa AS s, CASE WHEN winner = sa THEN 1 ELSE 0 END AS w
        FROM games
        UNION ALL
        SELECT sb, CASE WHEN winner = sb THEN 1 ELSE 0 END FROM games
      ) GROUP BY s
    )
"""


def _bt_iter_sql(prev: str, this: str) -> str:
    # pi'_s = W_s / sum over s's games of 1/(pi_s + pi_opp). Each game's
    # reciprocal is quantized to an INTEGER (floor(1e12/(q+qo))) before
    # the sum, so the reduction is exact integer addition — a float sum
    # of reciprocals is reduction-order-sensitive and could flip the
    # floor on a near-boundary value between engines (r9 ADVICE).
    return f"""
    {this} AS MATERIALIZED (
      SELECT g.s,
             CAST(floor(
               wl.wins * 1e12 / sum(1000000000000 // (ps.q + po.q)) + 0.5
             ) AS BIGINT) AS q
      FROM (
        SELECT sa AS s, sb AS o FROM games
        UNION ALL SELECT sb, sa FROM games
      ) g
      JOIN {prev} ps ON ps.s = g.s
      JOIN {prev} po ON po.s = g.o
      JOIN wl ON wl.s = g.s
      GROUP BY g.s, wl.wins
    )"""


@query(
    "eval_pairwise_bradley_terry",
    oracle=f"""
    WITH {_BT_GAMES_SQL},
    p0 AS MATERIALIZED (SELECT s, CAST({_BT_Q} AS BIGINT) AS q FROM players),
    {_bt_iter_sql('p0', 'p1')},{_bt_iter_sql('p1', 'p2')}
    SELECT s AS player, wl.wins, wl.games,
           CAST(p2.q AS BIGINT) AS strength_q,
           CAST(row_number() OVER (ORDER BY p2.q DESC, s) AS BIGINT) AS rk
    FROM p2 JOIN wl USING (s)
    ORDER BY rk
    """,
)
def eval_pairwise_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference ratings from pairwise judgments — the
    model an RLHF / LLM-eval pipeline fits over "which response is
    better" comparisons. Judgments are synthesized deterministically
    (adjacent doc pairs across sources, longer text wins, ties to the
    first), and two minorization-maximization iterations run from the
    uniform start: π'_s = W_s / Σ_games 1/(π_s + π_opp) — with the
    strength vector QUANTIZED to integer micro-units between
    iterations, so both engines iterate on identical integers and the
    final ranking cannot drift. Output: per player wins, games, the
    quantized strength, and rank.

    100 TB: per iteration one edge⋈strength broadcast join + one
    player-keyed aggregate (players are model/source-cardinality —
    always broadcastable); games shuffle once. The MM update is the
    standard scalable BT fit (Hunter 2004); two iterations order the
    fixture correctly, production runs to a convergence action like
    the suffix-doubling loop.

    Plan note: multi-BNLJ flag, whitelisted class — the per-iteration
    strength vectors are player-cardinality broadcasts."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("ia"),
        F.col("source").alias("sa"),
        F.col("n_chars").alias("ca"),
    )
    b = d.select(
        (F.col("doc_id") - 1).alias("ia"),
        F.col("source").alias("sb"),
        F.col("n_chars").alias("cb"),
    )
    games = (
        a.join(b, "ia")
        .filter(F.col("sa") != F.col("sb"))
        .select(
            "sa",
            "sb",
            F.when(F.col("ca") >= F.col("cb"), F.col("sa"))
            .otherwise(F.col("sb"))
            .alias("winner"),
        )
        .localCheckpoint(eager=False)  # both orientations + every iter
    )
    both = games.select(
        F.col("sa").alias("s"), F.col("sb").alias("o"), "winner"
    ).unionByName(
        games.select(F.col("sb").alias("s"), F.col("sa").alias("o"), "winner")
    ).localCheckpoint(eager=False)
    wl = both.groupBy("s").agg(
        F.sum(F.when(F.col("winner") == F.col("s"), 1).otherwise(0))
        .cast("bigint")
        .alias("wins"),
        F.count(F.lit(1)).cast("bigint").alias("games"),
    ).localCheckpoint(eager=False)
    pi = wl.select("s", F.lit(_BT_Q).cast("bigint").alias("q"))

    def step(pi: DataFrame) -> DataFrame:
        return (
            both.join(F.broadcast(pi.select(F.col("s"), F.col("q"))), "s")
            .join(
                F.broadcast(
                    pi.select(F.col("s").alias("o"), F.col("q").alias("qo"))
                ),
                "o",
            )
            .groupBy("s")
            # per-game reciprocal quantized to an integer BEFORE the sum
            # (pico-units): the reduction is exact integer addition, so
            # no reduction-order ulp can flip the floor below (r9 ADVICE)
            .agg(
                F.sum(
                    F.expr("1000000000000 DIV (q + qo)").cast("bigint")
                ).alias("denom")
            )
            .join(F.broadcast(wl), "s")
            .select(
                "s",
                F.floor(
                    F.col("wins").cast("double")
                    * 1e12
                    / F.col("denom").cast("double")
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("q"),
            )
        )

    # the LAST round stays un-checkpointed so the rank window's bounding
    # aggregate remains visible to the plan audit (the verify-skill rule)
    pi = step(rounds(pi, step, _BT_ITERS - 1)[-1])
    return (
        pi.join(F.broadcast(wl), "s")
        .select(
            F.col("s").alias("player"),
            "wins",
            "games",
            F.col("q").alias("strength_q"),
        )
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("strength_q"), F.col("player")))
            .cast("bigint"),
        )
        .orderBy("rk")
    )
