"""LLM-data ops, round 6 batch 6: EXACT-CERTIFIED distributed k-means
(Lloyd's algorithm, 3 synchronous rounds) over the embeddings table.

k-means is normally uncertifiable across engines (float centroid means
accumulate in engine-specific reduction orders). This rendering makes
every step exact:

- coordinates quantize ONCE to integer micro-units (floor(x*1e6));
- centroids are stored as (integer coordinate SUMS, count) — never as
  float means — so the update step is a pure integer aggregation
  (order-independent by commutativity);
- the assignment metric compares ||x - s/c||² via the exact integer
  form Σ(x·c − s_d)² (DECIMAL(38)/HUGEINT — max ~6.4e21 ≪ 1e38),
  divided by c² in ONE double division for the cross-centroid argmin
  (deterministic: same exact ints → same doubles → same order, ties by
  centroid id);
- seeds are vec_id < k (deterministic, content-independent).

The DuckDB oracle unrolls the three rounds as MATERIALIZED CTEs
(SCALE.md: DuckDB inlines CTEs) and must reproduce the census and the
integer-derived inertia bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rounds import rounds
from .core import corpus_key, fround, query, table

_K = 8
_ROUNDS = 3
_Q = 1e6  # coordinate quantization (micro-units)


def _spark_d2(xq_col, s_col, cnt_col):
    """Exact integer Σ(x·cnt − s_d)² as DECIMAL(38,0)."""
    def term(x, sd):
        t = (x * cnt_col - sd).cast("decimal(38,0)")
        return t * t

    return F.aggregate(
        F.zip_with(xq_col, s_col, term),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v,
    )


def _kmeans_state(spark: SparkSession, sf_dir: str):
    """Run _ROUNDS Lloyd iterations; return (pts, centroids) where
    centroids = (cid, s array<bigint>, cnt bigint)."""
    emb = table(spark, sf_dir, "embeddings")
    xq = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * _Q).cast("bigint")
    )
    pts = emb.select("vec_id", xq.alias("xq")).localCheckpoint(eager=False)
    cent = pts.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"),
        F.col("xq").alias("s"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    wmin = Window.partitionBy("vec_id").orderBy("ratio", "cid")

    def step(cent: DataFrame) -> DataFrame:
        scored = pts.crossJoin(F.broadcast(cent)).select(
            "vec_id",
            "xq",
            "cid",
            (
                _spark_d2(F.col("xq"), F.col("s"), F.col("cnt")).cast("double")
                / (F.col("cnt") * F.col("cnt")).cast("double")
            ).alias("ratio"),
        )
        assigned = (
            scored.withColumn("rk", F.row_number().over(wmin))
            .filter(F.col("rk") == 1)
            .select("vec_id", "xq", "cid")
        )
        # carry the member count through the per-(cid,dim) fold (every
        # dim sees all the cluster's points, so count(*) there IS the
        # cluster size) — one pass over `assigned`, no second groupBy
        # re-evaluating the N×k scored crossJoin (the oracle's shape)
        dims = (
            assigned.select("cid", F.posexplode("xq").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("cdim"))
        )
        return dims.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "sv"))),
                lambda t: t.getField("sv"),
            ).alias("s"),
            F.max("cdim").alias("cnt"),
        )

    return pts, rounds(cent, step, _ROUNDS)[-1], wmin


def _sql_d2(x: str, s: str, cnt: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({x}, {s}), "
        f"z -> CAST(z[1] * {cnt} - z[2] AS HUGEINT)"
        f" * CAST(z[1] * {cnt} - z[2] AS HUGEINT)))"
    )


def _sql_round(prev: str, a: str, this: str) -> str:
    d2 = _sql_d2("p.xq", "c.s", "c.cnt")
    return f"""
    {a} AS MATERIALIZED (
      SELECT vec_id, xq, cid FROM (
        SELECT p.vec_id, p.xq, c.cid,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY CAST({d2} AS DOUBLE)
                          / CAST(c.cnt * c.cnt AS DOUBLE), c.cid) AS rk
        FROM pts p CROSS JOIN {prev} c
      ) WHERE rk = 1
    ),
    {this} AS MATERIALIZED (
      SELECT cid,
             list(sv ORDER BY dim) AS s,
             any_value(cnt) AS cnt
      FROM (
        SELECT a.cid, n.i AS dim, sum(a.xq[n.i + 1]) AS sv,
               count(*) AS cnt
        FROM {a} a JOIN nums n ON n.i < len(a.xq)
        GROUP BY a.cid, n.i
      ) GROUP BY cid
    )"""


@query(
    "ml_kmeans_exact",
    oracle=f"""
    WITH nums AS (SELECT t.i FROM range(0, 64) t(i)),
    pts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {_Q}) AS BIGINT)) AS xq
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT vec_id AS cid, xq AS s, CAST(1 AS BIGINT) AS cnt
      FROM pts WHERE vec_id < {_K}
    ),{_sql_round('c0', 'a1', 'c1')},{_sql_round('c1', 'a2', 'c2')},{_sql_round('c2', 'a3', 'c3')},
    final AS (
      SELECT p.vec_id, c.cid,
             CAST({_sql_d2('p.xq', 'c.s', 'c.cnt')} AS DOUBLE)
               / CAST(c.cnt * c.cnt AS DOUBLE) AS d2,
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY CAST({_sql_d2('p.xq', 'c.s', 'c.cnt')} AS DOUBLE)
                        / CAST(c.cnt * c.cnt AS DOUBLE), c.cid) AS rk
      FROM pts p CROSS JOIN c3 c
    )
    SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
           floor(CAST(sum(CAST(floor(d2 / 1e12 * 1e4) AS BIGINT)) AS DOUBLE)
                 / 1e4 * 1e4 + 0.5) / 1e4 AS inertia
    FROM final WHERE rk = 1
    GROUP BY cid ORDER BY cid
    """,
)
def ml_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means, exact-certified: 3 synchronous Lloyd rounds
    (k=8, deterministic vec_id<k seeds) where centroids live as INTEGER
    coordinate sums + counts and assignment compares the exact integer
    quantity Σ(x·cnt − s_d)² / cnt² — so the entire iteration has no
    float accumulation anywhere and DuckDB must reproduce the final
    census bit-for-bit. Per-point final inertia (in original coordinate
    units, d2/cnt²/Q²) is floor-quantized to 1e-4 BEFORE the per-cluster
    sum, keeping that last aggregation in exact integers too.

    The MLlib twin (used by the IVF coarse quantizer,
    operators/similarity.ivf_topk) trains driver-side on a sample; this
    is the fully-distributed data-parallel form: each round is one
    broadcast of k centroid states + one scan (assignment) + one
    integer aggregation (update), the textbook shape at any scale.

    100 TB: k centroid states broadcast (KB); assignment is scan-stage;
    the update shuffles (cid, dim, partial-sum) triples — k·64 groups;
    localCheckpoint cuts round lineage (the PageRank discipline)."""
    pts, cent, wmin = _kmeans_state(spark, sf_dir)
    final = pts.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        (
            _spark_d2(F.col("xq"), F.col("s"), F.col("cnt")).cast("double")
            / (F.col("cnt") * F.col("cnt")).cast("double")
        ).alias("ratio"),
    )
    assigned = (
        final.withColumn("rk", F.row_number().over(wmin))
        .filter(F.col("rk") == 1)
        .select(
            "cid",
            F.floor(F.col("ratio") / F.lit(1e12) * F.lit(1e4))
            .cast("bigint")
            .alias("d2q"),
        )
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            fround(F.sum("d2q").cast("double") / 1e4, 4).alias("inertia"),
        )
        .orderBy("cid")
    )


@query(
    "layout_partitioned_pruning",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1 ORDER BY 1
    """,
)
def layout_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout round-trip: write the events table
    partitioned BY event_type (the layout decision a 100 TB store makes
    for its highest-selectivity predicate column), read it back with a
    partition-key filter, and certify the aggregate against the
    unpartitioned original — proving the partition column survives the
    directory-encoding round trip (it leaves the data files entirely
    and comes back from directory names, the classic silent-loss spot
    for type fidelity).

    The pruning itself is plan-verified here, not just trusted: the
    reread scan must list ONLY the two selected partition directories
    (asserted on InMemoryFileIndex partition filters via the explain
    text — a full-scan-then-filter plan fails loudly).

    100 TB: partition pruning is THE dominant cost lever for
    predicate-aligned layouts — two of five directories read means 60%
    of the corpus never even lists."""
    from .llmdata11 import _fidelity_tmp

    tmp = _fidelity_tmp("partlayout-")
    e = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    e.write.partitionBy("event_type").mode("overwrite").parquet(f"{tmp}/part")
    back = spark.read.parquet(f"{tmp}/part").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters: [" not in plan or "event_type" not in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]:
        raise AssertionError(
            "layout_partitioned_pruning: partition filter did not reach "
            "the scan — layout round-trip is not pruning:\n" + plan[:2000]
        )
    out = (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )
    from .llmdata11 import _materialize

    return _materialize(
        spark, tmp, out, "event_type string, n bigint, n_users bigint"
    )


@query(
    "schema_evolution_mergeschema",
    oracle="""
    SELECT event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type,
           (event_id % 2 = 1) AS from_v2
    FROM events
    WHERE value IS NOT NULL AND event_id % 10 < 2
    ORDER BY event_id
    """,
)
def schema_evolution_mergeschema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution round-trip (``mergeSchema``): two parquet batches
    written with DIFFERENT schemas — v1 carries (event_id, cents), v2
    adds the event_type column — then read back as ONE table with
    ``mergeSchema=true``. The certified contract is exactly what a
    100 TB lake relies on when a producer adds a column mid-stream:
    old files surface NULL for the new column, new files carry it, no
    row is lost or duplicated, and the unified schema is the field
    union. The oracle reconstructs the expected merged view
    arithmetically from the source table (even event_ids were written
    as v1 → NULL type, odd as v2).

    100 TB: mergeSchema pays a footer-read per file at planning —
    production pins the table schema in a catalog instead; the
    EVOLUTION semantics certified here are the same."""
    from .llmdata11 import _fidelity_tmp

    tmp = _fidelity_tmp("schemaevo-")
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("event_id") % 10 < 2))
        .select(
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
            "event_type",
        )
    )
    e.filter(F.col("event_id") % 2 == 0).select("event_id", "cents").write.mode(
        "overwrite"
    ).parquet(f"{tmp}/t")
    e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "cents", "event_type"
    ).write.mode("append").parquet(f"{tmp}/t")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/t")
    out = merged.select(
        "event_id",
        "cents",
        "event_type",
        F.col("event_type").isNotNull().alias("from_v2"),
    ).orderBy("event_id")
    from .llmdata11 import _materialize

    return _materialize(
        spark, tmp, out,
        "event_id bigint, cents bigint, event_type string, from_v2 boolean",
    )


@query(
    "union_by_name_reconcile",
    oracle="""
    SELECT doc_id, lang,
           CAST(CASE WHEN doc_id % 2 = 0 THEN n_chars END AS BIGINT)
             AS n_chars,
           CASE WHEN doc_id % 2 = 1 THEN source END AS source
    FROM documents WHERE doc_id % 7 = 0
    ORDER BY doc_id
    """,
)
def union_by_name_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — schema reconciliation
    by COLUMN NAME with NULL backfill, the union a pipeline needs when
    two producers of the same logical feed drift apart (one kept
    n_chars, the other kept source). Positional union would silently
    misalign columns; by-name union with backfill is the safe form, and
    the oracle reconstructs the exact expected NULL pattern from the
    split rule (even doc_ids came from producer A, odd from B)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    b = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "source")
    return a.unionByName(b, allowMissingColumns=True).orderBy("doc_id")


@query(
    "layout_compaction_maxrecords",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events
               WHERE value IS NOT NULL)
    SELECT n_rows,
           CAST(ceil(CAST(n_rows AS DOUBLE) / 2500) AS BIGINT) AS n_files,
           (SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT)
            FROM events WHERE value IS NOT NULL) AS checksum_cents
    FROM n
    """,
)
def layout_compaction_maxrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance round-trip (the small-files problem's write-
    side control): one logical partition written with
    ``maxRecordsPerFile=2500`` must split into exactly ceil(rows/2500)
    parquet files — certified by counting the actual files on disk —
    and re-reading them must preserve every row (integer-cents checksum
    vs the source table). This is the compaction knob a 100 TB lake
    tunes so downstream scans get row-group-sized files instead of a
    million shards or one unsplittable blob; the file COUNT reaching
    the oracle makes a silent regression of the option (writing one
    giant file) a hash mismatch, not a slow surprise."""
    from .llmdata11 import _fidelity_tmp

    tmp = _fidelity_tmp("compaction-")
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_id", "value"
    )
    (
        e.coalesce(1)
        .write.option("maxRecordsPerFile", 2500)
        .mode("overwrite")
        .parquet(f"{tmp}/t")
    )
    import os

    n_files = len(
        [f for f in os.listdir(f"{tmp}/t") if f.endswith(".parquet")]
    )
    back = spark.read.parquet(f"{tmp}/t")
    out = back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("checksum_cents"),
    )
    from .llmdata11 import _materialize

    return _materialize(
        spark, tmp, out, "n_rows bigint, n_files bigint, checksum_cents bigint"
    )


@query(
    "metadata_columns_provenance",
    oracle="""
    SELECT 'events.parquet' AS file_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    """,
)
def metadata_columns_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (Spark 3.5+ ``_metadata`` struct on
    file-source scans): per-file row provenance — file name, row count,
    distinct types — pulled from the scan's OWN metadata column instead
    of a side-channel (the engine-native form of what the
    clickhouse_log Python source synthesizes by hand). The driver's
    single-file-per-table layout makes the expected name a constant the
    oracle can state; on a real lake this is the query auditors run to
    trace a bad record to its source file.

    100 TB: `_metadata` is populated at scan time per split — zero
    extra I/O (constant per file), and filters on `_metadata.file_path`
    prune files before reading data pages."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("_metadata.file_name").alias("file_name"), "event_type"
    )
    return e.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("event_type").alias("n_types"),
    )


@query(
    "similarity_beam_search_topk",
    oracle="""
    SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_returned,
           true AS within_eps
    FROM embeddings WHERE vec_id < 8 ORDER BY vec_id
    """,
)
def similarity_beam_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop beam search over the bucket-built kNN graph
    (operators/similarity.beam_search_topk — the HNSW search loop in
    batch form: 2 hops, beam 16, true-cosine frontier cuts between
    hops), emitted as the certify_topk_bound certificate with ε=0.10
    (measured worst margin 0.043 across 3 SFs; recall 69-80% at the
    deliberately weak 4-table entry stage). Completes the ANN ladder's
    last ROADMAP rung: brute force → LSH → IVF → PQ/IVF-PQ →
    one-hop expansion → beam search."""
    from ..operators.similarity import beam_search_topk, certify_topk_bound

    # r14: fan_out removed -- driver-regressed ANN ladder rung; see the
    # rationale comment at similarity_lsh_topk (llmdata.py) and
    # OPTIMIZATION_r14.md.
    emb = table(spark, sf_dir, "embeddings").localCheckpoint(
        eager=False
    )  # scan once: beam search + certifier exact/rescore reuse it
    queries_df = emb.filter(F.col("vec_id") < 8)
    ap = beam_search_topk(
        emb, queries_df, "embedding", "vec_id", "vec_id", k=10,
        train_cache_key=corpus_key(sf_dir, "embeddings"),
    )
    return certify_topk_bound(
        emb, ap, "embedding", "vec_id", queries_df, "vec_id", k=10, eps=0.10
    )
