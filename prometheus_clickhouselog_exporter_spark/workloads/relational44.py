"""Relational battery, round 9 batch 2: Kruskal–Wallis k-group rank
test, the PromQL *_over_time aggregation family, ClickHouse
sequenceNextNode parity, and a data-freshness SLA report.

Shared discipline: rank statistics are VALUE-GROUPED (the
stats_mann_whitney_u recipe — doubled tie-averaged ranks are integers,
the only no-partition window rides the distinct-value frame), k-group
sums use per-group CONDITIONAL COLUMNS (the lang/event_type domains
are fixed 5-value sets, so cross-group reductions become one fixed
expression instead of an order-sensitive float sum), and every
*_over_time statistic folds exact integer cents.

Reference parity note: /root/reference exposes counters and histograms
only (metrics.go:8-75); PromQL evaluation over them and the ClickHouse
function surface are §2.3 north-star territory. The *_over_time family
is the query side of the exporter's own metrics (A5-A9 histograms ride
the same event stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import fround, name_graph, query, table

_LANGS = ("de", "en", "es", "fr", "zh")  # fixed corpus domain (FIXTURES.md)


@query(
    "stats_kruskal_wallis",
    oracle=f"""
    WITH g AS (
      SELECT n_chars,
             CAST(count(*) AS BIGINT) AS cnt,
             {", ".join(f"CAST(sum(CASE WHEN lang = '{g}' THEN 1 ELSE 0 END) AS BIGINT) AS c_{g}" for g in _LANGS)}
      FROM documents GROUP BY n_chars
    ),
    ranked AS (
      SELECT *,
             2 * (1 + coalesce(sum(cnt) OVER (ORDER BY n_chars
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               + cnt - 1 AS r2
      FROM g
    ),
    s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties,
             {", ".join(f"CAST(sum(c_{g}) AS BIGINT) AS n_{g}, CAST(sum(c_{g} * r2) AS BIGINT) AS s_{g}" for g in _LANGS)}
      FROM ranked
    )
    SELECT n, CAST(5 AS BIGINT) AS k, CAST(4 AS BIGINT) AS df,
           floor((3.0 / (CAST(n AS DOUBLE) * (n + 1))
              * ({" + ".join(f"CAST(s_{g} AS DOUBLE) * s_{g} / n_{g}" for g in _LANGS)})
              - 3.0 * (n + 1)) * 1e6 + 0.5) / 1e6 AS h,
           floor((3.0 / (CAST(n AS DOUBLE) * (n + 1))
              * ({" + ".join(f"CAST(s_{g} AS DOUBLE) * s_{g} / n_{g}" for g in _LANGS)})
              - 3.0 * (n + 1))
              / (1.0 - CAST(ties AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * n - n)) * 1e6 + 0.5) / 1e6
             AS h_tie_corrected
    FROM s
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H — the k-group generalization of Mann–Whitney
    (does ANY language's document-length distribution stochastically
    differ?), with the standard tie correction. Doubled tie-averaged
    ranks keep everything integer until the final closed form: per
    distinct length, r2 = 2·rank + cnt − 1 is the doubled average rank
    shared by every doc at that value, so each language's doubled rank
    sum S_g = Σ c_g·r2 is an exact integer, and
    H = 3/(N(N+1))·Σ S_g²/n_g − 3(N+1) (the 12/(4) fold of doubled
    ranks), divided by the tie factor 1 − Σ(t³−t)/(N³−N).

    Cross-engine determinism: the five S_g come out of ONE conditional
    aggregate as SEPARATE COLUMNS (the lang domain is fixed), so the
    cross-group Σ S_g²/n_g is a fixed-order expression, never a float
    reduction; S_g ≤ 2N·n_g keeps S_g² inside double's 2^53 integer
    range through sf10.

    100 TB: one value-keyed aggregate (map-side combinable), a
    distinct-value-cardinality rank window (bounded by the n_chars
    domain), one row out — the mann_whitney shape with k columns."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("n_chars").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[
            F.sum(F.when(F.col("lang") == lg, 1).otherwise(0)).alias(f"c_{lg}")
            for lg in _LANGS
        ],
    )
    wo = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "r2",
        2 * (1 + F.coalesce(F.sum("cnt").over(wo), F.lit(0)))
        + F.col("cnt")
        - 1,
    )
    s = ranked.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("ties"),
        *[
            c
            for lg in _LANGS
            for c in (
                F.sum(f"c_{lg}").cast("bigint").alias(f"n_{lg}"),
                F.sum(F.col(f"c_{lg}") * F.col("r2"))
                .cast("bigint")
                .alias(f"s_{lg}"),
            )
        ],
    )
    nD = F.col("n").cast("double")
    ssum = None
    for lg in _LANGS:
        term = (
            F.col(f"s_{lg}").cast("double")
            * F.col(f"s_{lg}")
            / F.col(f"n_{lg}")
        )
        ssum = term if ssum is None else ssum + term
    h = 3.0 / (nD * (F.col("n") + 1)) * ssum - 3.0 * (F.col("n") + 1)
    tie_factor = 1.0 - F.col("ties").cast("double") / (nD * F.col("n") * F.col("n") - F.col("n"))
    return s.select(
        "n",
        F.lit(5).cast("bigint").alias("k"),
        F.lit(4).cast("bigint").alias("df"),
        fround(h, 6).alias("h"),
        fround(h / tie_factor, 6).alias("h_tie_corrected"),
    )


@query(
    "promql_over_time_battery",
    oracle="""
    WITH q AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    per_ts AS (
      SELECT event_type, hr, ts, max_by(cents, event_id) AS c_at
      FROM q GROUP BY 1, 2, 3
    ),
    lastv AS (
      SELECT event_type, hr, CAST(max_by(c_at, ts) AS BIGINT) AS last_cents
      FROM per_ts GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type, hr,
             CAST(count(*) AS BIGINT) AS n_over_time,
             CAST(min(cents) AS BIGINT) AS min_cents,
             CAST(max(cents) AS BIGINT) AS max_cents,
             floor(CAST(sum(cents) AS DOUBLE) / count(*) / 100 * 1e6 + 0.5)
               / 1e6 AS avg_over_time,
             floor(sqrt(greatest(0.0,
                   CAST(sum(cents * cents) AS DOUBLE) / count(*)
                   - (CAST(sum(cents) AS DOUBLE) / count(*))
                     * (CAST(sum(cents) AS DOUBLE) / count(*)))) / 100
                   * 1e6 + 0.5) / 1e6 AS stddev_over_time
      FROM q GROUP BY 1, 2
    )
    SELECT agg.event_type, agg.hr, n_over_time, min_cents, max_cents,
           last_cents, avg_over_time, stddev_over_time
    FROM agg JOIN lastv USING (event_type, hr) ORDER BY 1, 2
    """,
)
def promql_over_time_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PromQL range-vector aggregation family —
    count/min/max/last/avg/stddev_over_time — evaluated per (series,
    1h range) exactly as the published semantics define them over raw
    samples (stddev_over_time is the POPULATION σ, last_over_time the
    sample with the greatest timestamp). One conditional aggregate per
    hour bucket from integer cents; the only libm is the final sqrt on
    exact integer moments; last_* is resolved in two stages so it is
    collision-free for ANY fixture: per (series, ts) take
    max_by(cents, event_id) — event_id is globally unique, so that
    stage is deterministic — then max_by over the now-unique
    timestamps (the packed µs·32+id%32 single-key form could alias two
    same-µs events whose ids were congruent mod 32, making the winner
    engine-dependent).

    Ref cite: metrics.go:39-69 exposes the histogram side of this
    stream; the *_over_time family is what a PromQL dashboard runs on
    the same samples. 100 TB: one scan, one (type, hour)-keyed
    map-side-combinable aggregate — the canonical pre-aggregation
    shape — plus a (type, hour, ts)-keyed pre-reduce feeding the tiny
    last_* join (|types|·|hours| rows, broadcastable)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    q = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id"),
        cents.alias("cents"),
    )
    per_ts = q.groupBy("event_type", "hr", "ts").agg(
        F.max_by("cents", "event_id").alias("c_at")
    )
    lastv = per_ts.groupBy("event_type", "hr").agg(
        F.max_by("c_at", "ts").cast("bigint").alias("last_cents")
    )
    n = F.count(F.lit(1))
    s = F.sum("cents").cast("double")
    ss = F.sum(F.col("cents") * F.col("cents")).cast("double")
    agg = q.groupBy("event_type", "hr").agg(
        n.cast("bigint").alias("n_over_time"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
        fround(s / n / 100, 6).alias("avg_over_time"),
        fround(
            F.sqrt(F.greatest(F.lit(0.0), ss / n - (s / n) * (s / n))) / 100,
            6,
        ).alias("stddev_over_time"),
    )
    return (
        agg.join(F.broadcast(lastv), ["event_type", "hr"])
        .select(
            "event_type", "hr", "n_over_time", "min_cents", "max_cents",
            "last_cents", "avg_over_time", "stddev_over_time",
        )
        .orderBy("event_type", "hr")
    )


@query(
    "clickhouse_sequence_next_node",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    base AS (
      SELECT user_id, min(rn) AS vrn FROM seq
      WHERE event_type = 'view' GROUP BY user_id
    ),
    nxt AS (
      SELECT b.user_id, s.event_type AS next_type
      FROM base b LEFT JOIN seq s
        ON s.user_id = b.user_id AND s.rn = b.vrn + 1
    )
    SELECT coalesce(next_type, '(end)') AS next_type,
           CAST(count(*) AS BIGINT) AS n_users
    FROM nxt GROUP BY 1 ORDER BY 1
    """,
)
def clickhouse_sequence_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `sequenceNextNode(forward, first_match)` parity: for
    each user, anchor on the FIRST 'view' event (event-time order,
    event_id tie-break — ClickHouse requires a deterministic sort key
    for exactly this reason) and report the type of the immediately
    following event; users whose first view is their last event emit
    the '(end)' node. The census over next-nodes is the "where do
    users go after their first view" funnel question the ClickHouse
    function exists for.

    100 TB: one user-partitioned sequence window (the funnel family's
    exchange, reused by every per-user operator), one min-aggregate,
    one (user, rn)-keyed self-equi-join — no cross products; the
    census output is |event types|+1 rows.

    Ref cite: none — /root/reference classifies single statements
    (query.go:276-289); sequence analytics is §2.3 ClickHouse-parity
    territory."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).localCheckpoint(eager=False)  # base + next probe
    base = (
        seq.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("rn").alias("vrn"))
        .select(F.col("user_id").alias("b_uid"), "vrn")
    )
    nxt = base.join(
        seq.select(
            F.col("user_id").alias("s_uid"),
            F.col("rn").alias("s_rn"),
            F.col("event_type").alias("next_type"),
        ),
        (F.col("s_rn") == F.col("vrn") + 1) & (F.col("s_uid") == F.col("b_uid")),
        "left",
    )
    return (
        nxt.groupBy(F.coalesce(F.col("next_type"), F.lit("(end)")).alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("next_type")
    )


_SLA_MINUTES = {"error": 5, "purchase": 30, "click": 60, "view": 60, "signup": 60}


@query(
    "dq_freshness_sla",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             max(ts) AS last_ts,
             CAST(sum(CASE WHEN ts >= (SELECT max(ts) FROM events)
                                      - INTERVAL 24 HOUR
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_last24h
      FROM events GROUP BY event_type
    ),
    m AS (SELECT max(ts) AS gmax FROM events)
    SELECT g.event_type, g.n_rows, g.last_ts,
           CAST(floor(epoch_us(m.gmax - g.last_ts) / 60000000.0) AS BIGINT)
             AS lag_minutes,
           CASE g.event_type
             {" ".join(f"WHEN '{t}' THEN CAST({m} AS BIGINT)" for t, m in _SLA_MINUTES.items())}
           END AS sla_minutes,
           epoch_us(m.gmax - g.last_ts) / 60000000.0
             > CASE g.event_type
                 {" ".join(f"WHEN '{t}' THEN {m}" for t, m in _SLA_MINUTES.items())}
               END AS breached,
           g.n_last24h
    FROM g CROSS JOIN m ORDER BY g.event_type
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA report — the first page of every pipeline
    runbook: per stream (event type), row volume, last-arrival
    timestamp, staleness in whole minutes against the corpus
    watermark, the stream's SLA literal, the breach flag, and the
    trailing-24h volume. The watermark is the corpus max (in
    production, now()) so the report is deterministic.

    100 TB: one scan, one conditional aggregate keyed by the 5-value
    type domain, a broadcast 1-row watermark — the zero-join shape;
    the per-type SLA table rides the plan as literals (swap for a
    broadcast dim at a real registry).

    Ref cite: the reference's own health surface is
    chlogexporter_errors{{type}} (metrics.go:8-14); freshness is the
    batch-side twin of its liveness concern."""
    e = table(spark, sf_dir, "events")
    # the watermark is ONE bounded driver-side value (the n_vocab
    # dispatch-statistic class) — embedding it as a literal lets the
    # whole report fold in a single scan + one 5-row aggregate instead
    # of three scans of the fact table
    gmax = e.agg(F.max("ts")).first()[0]
    sla = F.create_map(
        *[F.lit(x) for t, mi in _SLA_MINUTES.items() for x in (t, mi)]
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("ts").alias("last_ts"),
        F.sum(
            F.when(
                F.col("ts") >= F.lit(gmax) - F.expr("INTERVAL 24 HOURS"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_last24h"),
    )
    import datetime as _dt

    gmax_us = (
        int(gmax.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
        if gmax is not None
        else 0
    )
    lag_us = F.lit(gmax_us) - F.unix_micros(F.col("last_ts").cast("timestamp"))
    lag_min = F.floor(lag_us / 60000000.0).cast("bigint")
    return g.select(
        "event_type",
        "n_rows",
        "last_ts",
        lag_min.alias("lag_minutes"),
        sla[F.col("event_type")].cast("bigint").alias("sla_minutes"),
        (lag_us / 60000000.0 > sla[F.col("event_type")]).alias("breached"),
        "n_last24h",
    ).orderBy("event_type")


@query(
    "window_range_interval_trailing",
    oracle="""
    SELECT event_id, event_type, ts,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
             PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_6h_cents,
           CAST(count(*) OVER (
             PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_6h_n
    FROM events WHERE value IS NOT NULL
    ORDER BY event_id
    """,
)
def window_range_interval_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frames with INTERVAL bounds — the event-time
    trailing window ("revenue in the 6 hours ending at THIS event")
    that ROWS frames cannot express when sampling is irregular: the
    frame is defined by the ORDER BY value's time distance, so peers
    at the same timestamp are always all-in (which also makes the
    result tie-deterministic without any tiebreak column — unlike
    ROWS). Exact integer cents inside the frame sum.

    100 TB: one event_type-partitioned sort-based window — the same
    exchange every per-series operator reuses; RANGE frames evaluate
    with a sliding two-pointer over the sorted run, O(n) per
    partition, no per-row rescan.

    Ref cite: none — /root/reference aggregates globally
    (metrics.go:39-69); event-time trailing windows are §2.2 window
    territory (SURVEY 'Window functions' row, RANGE-INTERVAL form)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    return (
        e.select("event_id", "event_type", "ts", cents.alias("cents"))
        .selectExpr(
            "event_id",
            "event_type",
            "ts",
            "CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY ts "
            "RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW) "
            "AS BIGINT) AS trailing_6h_cents",
            "CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts "
            "RANGE BETWEEN INTERVAL 6 HOURS PRECEDING AND CURRENT ROW) "
            "AS BIGINT) AS trailing_6h_n",
        )
        .orderBy("event_id")
    )


@query(
    "promql_changes_absent",
    oracle="""
    WITH q AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             lag(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS prev
      FROM events WHERE value IS NOT NULL
    ),
    have AS (
      SELECT event_type, hr,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(CASE WHEN prev IS NOT NULL AND cents <> prev
                      THEN 1 ELSE 0 END) AS BIGINT) AS changes
      FROM q GROUP BY 1, 2
    ),
    grid AS (
      -- grid bounds and the series set ride the FILTERED aggregate
      -- (have), exactly like the Spark plan: a NULL-valued event that
      -- extends the raw min/max hour, or an all-NULL series, must not
      -- widen the absent() grid on one engine only
      SELECT t.event_type, h.hr
      FROM (SELECT DISTINCT event_type FROM have) t
      CROSS JOIN (
        SELECT unnest(generate_series(
          (SELECT min(hr) FROM have),
          (SELECT max(hr) FROM have),
          INTERVAL 1 HOUR)) AS hr
      ) h
    )
    SELECT g.event_type, g.hr,
           coalesce(h.n_samples, 0) AS n_samples,
           coalesce(h.changes, 0) AS changes,
           h.n_samples IS NULL AS absent
    FROM grid g LEFT JOIN have h
      ON h.event_type = g.event_type AND h.hr = g.hr
    ORDER BY g.event_type, g.hr
    """,
)
def promql_changes_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `changes()` + `absent()` parity: per (series, 1h range),
    how many times the sample value CHANGED (consecutive samples in
    (ts, event_id) order with different values — the flapping-detector
    function), and the absent() marker for every (series, hour) cell
    of the calendar grid with NO samples at all — the alerting
    primitive that fires when a target stops scraping. The grid is
    generated from the min/max hour and series set of the FILTERED
    samples (value IS NOT NULL) on BOTH engines — a NULL-valued
    boundary event or an all-NULL series must not widen the grid on
    one engine only (pinned by
    tests/test_relational44.py::test_changes_absent_null_boundary) —
    so absence is an explicit row, not a silent gap.

    100 TB: one series-partitioned lag window + one (series, hour)
    aggregate; the calendar grid is hours x series (broadcastable) and
    the absence check is one left join against the aggregate — never
    against raw samples.

    Ref cite: the reference's liveness signal is the read_lines
    counter (metrics.go:16-21); changes/absent are the PromQL query
    side of the same concern."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    w = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    q = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        "ts",
        "event_id",
        cents.alias("cents"),
    ).withColumn("prev", F.lag("cents").over(w))
    have = q.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum(
            F.when(
                F.col("prev").isNotNull() & (F.col("cents") != F.col("prev")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("changes"),
    ).localCheckpoint(eager=False)  # grid bounds + types + the left join
    # the calendar bounds and the series set both ride the AGGREGATED
    # frame (every populated hour appears there), so the fact table
    # scans exactly once
    bounds = have.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    types = have.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    return (
        grid.join(have, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce(F.col("n_samples"), F.lit(0)).cast("bigint").alias(
                "n_samples"
            ),
            F.coalesce(F.col("changes"), F.lit(0)).cast("bigint").alias("changes"),
            F.col("n_samples").isNull().alias("absent"),
        )
        .orderBy("event_type", "hr")
    )


_LSS_PAIRS = 4  # alternating large-star/small-star pairs (fixpoint-pinned)


from .relational26 import _LP_SQL_GRAPH
from .relational42 import _cc_round_sql

_CC4 = ",".join(_cc_round_sql(f"c{i}", f"c{i + 1}") for i in range(4))


@query(
    "graph_cc_large_small_star",
    oracle=f"""
    WITH {_LP_SQL_GRAPH},
    c0 AS MATERIALIZED (SELECT p_name, p_name AS label FROM nm),
    {_CC4}
    SELECT label AS component,
           CAST(count(*) AS BIGINT) AS n_members,
           min(p_name) AS first_member
    FROM c4 GROUP BY label ORDER BY component
    """,
)
def graph_cc_large_small_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond" — public method): large-star hooks every strictly-larger
    neighbor of u onto m(u) = min(Γ(u) ∪ {u}); small-star hooks the
    rest. The edge set converges to a star forest centered at each
    component's minimum in O(log n) rounds on ANY diameter — the
    production answer to the adversarial-path graphs where plain
    min-label propagation (graph_connected_components, O(diameter)
    rounds) degrades. Both algorithms run on the SAME name-similarity
    graph and this query certifies ALGORITHM EQUIVALENCE: the oracle
    is the min-label fixpoint census, so the star centers must equal
    the propagation labels exactly (and tests/test_relational44.py
    re-asserts the two algorithms' censuses agree in-engine).

    The star step is ``operators.dedup.star_round`` (the same round
    ``connected_components_star`` iterates to its fixpoint); here
    ``rounds`` runs a fixed _LSS_PAIRS of them over one row per
    undirected edge, and each node's label is its smaller partner in
    the final star forest (a center keeps its own name).

    100 TB: each pair is two groupBy-min + join passes over the edge
    list with distinct dedup — O(edges) shuffles, lineage cut per
    pair; no node ever aggregates more than its degree.

    Ref cite: none — /root/reference has no graph surface."""
    from ..operators.dedup import star_round
    from ..operators.rounds import rounds

    nm, e0 = name_graph(spark, sf_dir)
    # e0 is symmetric: keep one (u, v) row per undirected edge
    E = e0.filter(F.col("src") > F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    E = rounds(E, star_round, _LSS_PAIRS)[-1]
    # star forest: every non-center u points at its component minimum
    partner = E.groupBy("u").agg(F.min("v").alias("mn"))
    lab = nm.join(partner, nm["p_name"] == partner["u"], "left").select(
        "p_name", F.coalesce(F.col("mn"), F.col("p_name")).alias("label")
    )
    return (
        lab.groupBy(F.col("label").alias("component"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("p_name").alias("first_member"),
        )
        .orderBy("component")
    )


@query(
    "promql_topk_bottomk",
    oracle="""
    WITH s AS (
      SELECT date_trunc('hour', ts) AS hr, event_type,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    t AS (
      SELECT hr, event_type, sum_cents, 'topk' AS role,
             CAST(row_number() OVER (PARTITION BY hr
                    ORDER BY sum_cents DESC, event_type) AS BIGINT) AS rk
      FROM s
    ),
    b AS (
      SELECT hr, event_type, sum_cents, 'bottomk' AS role,
             CAST(row_number() OVER (PARTITION BY hr
                    ORDER BY sum_cents ASC, event_type) AS BIGINT) AS rk
      FROM s
    )
    SELECT * FROM t WHERE rk <= 2
    UNION ALL
    SELECT * FROM b WHERE rk <= 1
    ORDER BY hr, role, rk
    """,
)
def promql_topk_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `topk(2, ...)` / `bottomk(1, ...)` parity: at each
    evaluation instant (1h grid), the k series with the largest /
    smallest hourly value-sum — the instant-vector selector every
    dashboard's "noisiest streams right now" panel runs. Ties break by
    series name (PromQL's own tie behavior is unspecified; pinning the
    name order is what makes the result certifiable at all — same move
    as the argMin/argMax battery).

    100 TB: one (series, hour) aggregate, then per-hour rank windows
    over |series| rows — partitioned by the hour grid, never global;
    selection is WindowGroupLimit-shaped (rank <= k pushes into the
    window sort).

    Ref cite: metrics.go:31-37 exposes per-type counters; topk over
    them is the PromQL dashboard side."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hr"), F.col("event_type")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents")
        )
        .localCheckpoint(eager=False)  # both rank directions
    )
    wt = Window.partitionBy("hr").orderBy(F.desc("sum_cents"), "event_type")
    wb = Window.partitionBy("hr").orderBy(F.asc("sum_cents"), "event_type")
    t = s.select(
        "hr",
        "event_type",
        "sum_cents",
        F.lit("topk").alias("role"),
        F.row_number().over(wt).cast("bigint").alias("rk"),
    ).filter(F.col("rk") <= 2)
    b = s.select(
        "hr",
        "event_type",
        "sum_cents",
        F.lit("bottomk").alias("role"),
        F.row_number().over(wb).cast("bigint").alias("rk"),
    ).filter(F.col("rk") <= 1)
    return t.unionByName(b).orderBy("hr", "role", "rk")


@query(
    "dq_orders_lineitem_reconcile",
    oracle="""
    WITH l AS (
      SELECT l_orderkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)
                      * CAST(floor((1 + l_tax) * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS s_micro
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderstatus AS status,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * 10000
               AS total_micro,
             l.s_micro
      FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN s_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_lineitems,
           CAST(sum(CASE WHEN s_micro IS NOT NULL
                    AND abs(total_micro - s_micro) * 100 <= total_micro
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
           CAST(sum(CASE WHEN s_micro IS NOT NULL
                    AND abs(total_micro - s_micro) * 100 > total_micro
                    AND abs(total_micro - s_micro) * 10 <= total_micro
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_1_to_10pct,
           CAST(sum(CASE WHEN s_micro IS NOT NULL
                    AND abs(total_micro - s_micro) * 10 > total_micro
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_over_10pct
    FROM j GROUP BY status ORDER BY status
    """,
)
def dq_orders_lineitem_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation — the DQ check every warehouse runs
    nightly: does the order header's total match the sum of its line
    items (extended price x (1-discount) x (1+tax))? Per order status:
    header count, headers with NO line items at all (the referential
    gap), and the relative-delta distribution in integer
    cross-multiplied bands (within 1%, 1-10%, over 10% — |Δ|·100 ≤
    total avoids any float division). All money stays in integer
    micro-cent products (cents x percent x percent), so the bands are
    exact on both engines. On this synthetic fixture the totals are
    independently generated (every order lands in the >10% band) —
    the check's OUTPUT shape, not the fixture, is the operator.

    100 TB: one lineitem fold keyed by order (map-side combinable),
    one orderkey-coalesced left join (both sides hash the same key —
    co-partitioned at a real lakehouse via bucketing), one 3-value
    status aggregate.

    Ref cite: none — /root/reference has no relational surface."""
    li = table(spark, sf_dir, "lineitem")
    s_micro = F.sum(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        * F.floor((1 - F.col("l_discount")) * 100 + F.lit(0.5)).cast("bigint")
        * F.floor((1 + F.col("l_tax")) * 100 + F.lit(0.5)).cast("bigint")
    ).cast("bigint")
    l = li.groupBy("l_orderkey").agg(s_micro.alias("s_micro"))
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint") * 10000)
        .alias("total_micro"),
    )
    j = o.join(l, o["o_orderkey"] == l["l_orderkey"], "left")
    d = F.abs(F.col("total_micro") - F.col("s_micro"))
    has = F.col("s_micro").isNotNull()
    return (
        j.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.when(~has, 1).otherwise(0)).cast("bigint").alias(
                "n_no_lineitems"
            ),
            F.sum(F.when(has & (d * 100 <= F.col("total_micro")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_within_1pct"),
            F.sum(
                F.when(
                    has
                    & (d * 100 > F.col("total_micro"))
                    & (d * 10 <= F.col("total_micro")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_1_to_10pct"),
            F.sum(F.when(has & (d * 10 > F.col("total_micro")), 1).otherwise(0))
            .cast("bigint")
            .alias("n_over_10pct"),
        )
        .orderBy("status")
    )


@query(
    "stats_two_proportion_ztest",
    oracle="""
    WITH obs AS (
      SELECT user_id % 2 = 1 AS treated,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    m AS (
      SELECT CAST(sum(CASE WHEN treated THEN conv END) AS BIGINT) AS xt,
             CAST(count(CASE WHEN treated THEN 1 END) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN NOT treated THEN conv END) AS BIGINT) AS xc,
             CAST(count(CASE WHEN NOT treated THEN 1 END) AS BIGINT) AS nc
      FROM obs
    )
    SELECT xt, nt, xc, nc,
           floor((CAST(xt AS DOUBLE) / nt - CAST(xc AS DOUBLE) / nc) * 1e6
                 + 0.5) / 1e6 AS diff,
           floor((CAST(xt AS DOUBLE) / nt - CAST(xc AS DOUBLE) / nc)
             / sqrt((CAST(xt + xc AS DOUBLE) / (nt + nc))
                    * (1 - CAST(xt + xc AS DOUBLE) / (nt + nc))
                    * (1.0 / nt + 1.0 / nc)) * 1e6 + 0.5) / 1e6 AS z
    FROM m
    """,
)
def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion rates (purchase share,
    treated vs control by the standard user_id parity split) — the
    binary-outcome sibling of stats_ttest_welch and the FIRST readout
    of any conversion experiment: pooled-proportion standard error,
    z = (p_t − p_c)/√(p̂(1−p̂)(1/n_t+1/n_c)). Four exact integer counts
    from ONE conditional scan; diff and z are single fixed expressions
    over them (no float reduction anywhere).

    100 TB: the zero-join, one-aggregate shape — four partial-sum
    cells per mapper.

    Ref cite: none — /root/reference computes no statistics
    (metrics.go:8-75)."""
    e = table(spark, sf_dir, "events")
    t = F.col("user_id") % 2 == 1
    conv = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    m = e.agg(
        F.sum(F.when(t, conv)).cast("bigint").alias("xt"),
        F.count(F.when(t, F.lit(1))).cast("bigint").alias("nt"),
        F.sum(F.when(~t, conv)).cast("bigint").alias("xc"),
        F.count(F.when(~t, F.lit(1))).cast("bigint").alias("nc"),
    )
    pt = F.col("xt").cast("double") / F.col("nt")
    pc = F.col("xc").cast("double") / F.col("nc")
    pp = (F.col("xt") + F.col("xc")).cast("double") / (F.col("nt") + F.col("nc"))
    se = F.sqrt(pp * (1 - pp) * (1.0 / F.col("nt") + 1.0 / F.col("nc")))
    return m.select(
        "xt",
        "nt",
        "xc",
        "nc",
        fround(pt - pc, 6).alias("diff"),
        fround((pt - pc) / se, 6).alias("z"),
    )


_LR_BUDGET = 1000  # sample slots to apportion


@query(
    "sample_largest_remainder",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    t AS (
      SELECT source, CAST(count(*) AS BIGINT) AS t_s
      FROM tok WHERE tok <> '' GROUP BY source
    ),
    tot AS (SELECT CAST(sum(t_s) AS BIGINT) AS t FROM t),
    base AS (
      SELECT source, t_s,
             {_LR_BUDGET} * t_s // tot.t AS base_alloc,
             {_LR_BUDGET} * t_s - ({_LR_BUDGET} * t_s // tot.t) * tot.t
               AS remainder
      FROM t CROSS JOIN tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY remainder DESC, source) AS rk,
             CAST({_LR_BUDGET} - sum(base_alloc) OVER () AS BIGINT) AS n_extra
      FROM base
    )
    SELECT source, t_s, CAST(base_alloc AS BIGINT) AS base_alloc,
           CAST(CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base_alloc + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked ORDER BY source
    """,
)
def sample_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sample
    budget across sources by token mass — the exact-integer allocator
    a mixture sampler needs when per-domain floats would over- or
    under-draw the budget: base = ⌊K·T_s/T⌋ per source, then the
    K − Σbase leftover slots go to the largest integer remainders
    K·T_s − base·T (source-name tie-break). Σ alloc == K exactly, by
    construction, on both engines — pinned in pytest.

    100 TB: one token fold to source mass, one |domains|-row window
    (domain-cardinality, bounded — the mixture table), pure integer
    arithmetic; the allocator pairs with sample_mixture_temperature /
    sample_doremi_weights, which produce the masses it consumes.

    Ref cite: none — /root/reference has no sampling surface."""
    d = table(spark, sf_dir, "documents")
    t = (
        d.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t_s"))
    )
    tot = t.agg(F.sum("t_s").cast("bigint").alias("t"))
    base = t.crossJoin(F.broadcast(tot)).select(
        "source",
        "t_s",
        F.expr(f"{_LR_BUDGET} * t_s DIV t").cast("bigint").alias("base_alloc"),
        (
            F.lit(_LR_BUDGET) * F.col("t_s")
            - F.expr(f"{_LR_BUDGET} * t_s DIV t") * F.col("t")
        ).alias("remainder"),
    )
    ranked = base.select(
        "source",
        "t_s",
        "base_alloc",
        F.row_number()
        .over(Window.orderBy(F.desc("remainder"), F.col("source")))
        .alias("rk"),
        (F.lit(_LR_BUDGET) - F.sum("base_alloc").over(Window.partitionBy()))
        .cast("bigint")
        .alias("n_extra"),
    )
    extra = F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
    return ranked.select(
        "source",
        "t_s",
        "base_alloc",
        extra.cast("bigint").alias("extra"),
        (F.col("base_alloc") + extra).cast("bigint").alias("alloc"),
    ).orderBy("source")


# the reference's clickhouse_query_time bucket ladder (metrics.go:42)
_HF_BUCKETS = (1, 5, 10, 20, 30, 40, 50, 60, 120, 180, 300, 1800)
_HF_X = 42.5  # fraction threshold (inside the 40..50 bucket)


@query(
    "promql_histogram_fraction",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             {", ".join(f"CAST(sum(CASE WHEN value <= {le} THEN 1 ELSE 0 END) AS BIGINT) AS le_{le}" for le in _HF_BUCKETS)}
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    , x AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_le_x
      FROM events WHERE value IS NOT NULL AND value <= 42.5
      GROUP BY event_type
    )
    SELECT b.event_type, b.n, b.le_40, b.le_50,
           floor((CAST(b.le_40 AS DOUBLE)
                  + (42.5 - 40) / (50 - 40) * (b.le_50 - b.le_40))
                 / b.n * 1e6 + 0.5) / 1e6 AS frac_le_x_est,
           floor(CAST(coalesce(x.n_le_x, 0) AS DOUBLE) / b.n * 1e6 + 0.5)
             / 1e6 AS frac_le_x_exact
    FROM b LEFT JOIN x ON x.event_type = b.event_type ORDER BY b.event_type
    """,
)
def promql_histogram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `histogram_fraction(lo, hi, ...)` parity: the share of
    observations at or below a threshold, RECONSTRUCTED from the
    cumulative `le` bucket ladder with the published linear
    interpolation inside the straddling bucket — the inverse of
    histogram_quantile (promql_histogram_quantile consumes the same
    ladder the exporter's A5 histogram emits, metrics.go:39-45). The
    estimate sits NEXT TO the exact fraction computed from raw
    samples, so the bucket-resolution error is visible in the result
    itself (the sketch-certificate pattern).

    100 TB: the ladder is ONE conditional aggregate per series (the
    exporter's own pre-aggregation); the fraction is arithmetic on
    |series| rows. The exact lane exists only for the certificate.

    Ref cite: metrics.go:39-45 (bucket ladder), query.go:228
    (observation site)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(F.when(F.col("value") <= float(le), 1).otherwise(0))
            .cast("bigint")
            .alias(f"le_{le}")
            for le in _HF_BUCKETS
        ],
    )
    est = fround(
        (
            F.col("le_40").cast("double")
            + (_HF_X - 40.0) / 10.0 * (F.col("le_50") - F.col("le_40"))
        )
        / F.col("n"),
        6,
    )
    exact = (
        e.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") <= _HF_X, 1).otherwise(0))
            .cast("bigint")
            .alias("n_le_x")
        )
    )
    return (
        b.join(exact, "event_type")
        .select(
            "event_type",
            "n",
            "le_40",
            "le_50",
            est.alias("frac_le_x_est"),
            fround(F.col("n_le_x").cast("double") / F.col("n"), 6).alias(
                "frac_le_x_exact"
            ),
        )
        .orderBy("event_type")
    )
