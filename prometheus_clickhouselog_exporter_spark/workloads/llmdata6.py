"""LLM-data ops, round 3 batch 7: tokenizer vocabulary coverage,
asymmetric containment dedup, and mergeable MinHash source signatures.

Three corpus-curation operators completing the dedup/analysis families:
OOV (out-of-vocabulary) rate per language against a corpus-derived
top-k vocabulary — the tokenizer-coverage report every data card
publishes; shingle CONTAINMENT (|A∩B|/|A|) — the asymmetric near-dup
measure that catches quote-inclusion and subset duplication where
symmetric Jaccard stays low; and per-source MinHash signatures built
with an engine-portable md5 hash family, demonstrating the mergeable
property (union signature = elementwise min) that makes sketches
shippable across 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import shingle_hashes, word_shingles
from ..operators.rounds import rounds
from .core import fan_out, query, table

_TOPK_VOCAB = 10
_N_PERMS = 8


@query(
    "text_vocab_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM counts
      ) WHERE rk <= {_TOPK_VOCAB}
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS oov_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS oov_rate
    FROM toks LEFT JOIN vocab v ON toks.tok = v.tok
    GROUP BY lang ORDER BY lang
    """,
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage: build a top-k vocabulary by corpus
    term frequency (deterministic tie-break on the token), then measure
    the per-language OOV rate — the fraction of token OCCURRENCES not
    covered. This is the coverage report run before committing to a
    tokenizer: languages with high OOV get mangled into byte-fallback
    soup during training.

    Scale shape: two-phase like tf-idf — token counts fold map-side to
    vocabulary-cardinality rows; the top-k rank windows over VOCABULARY
    rows (bounded, not corpus-sized); the vocab probe is a broadcast
    LEFT join at scan stage. OOV rate is one double division of exact
    counts. 100 TB: the only corpus-sized shuffle is the token count;
    everything after is vocabulary-bounded.
    """
    toks = table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.select(
            "tok",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("tok")))
            .alias("rk"),
        )
        .filter(F.col("rk") <= _TOPK_VOCAB)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("oov_tokens"),
            (
                F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


@query(
    "dedup_containment_shingles",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 2 + 1),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM toks
    ),
    post AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    common AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS c
      FROM post l JOIN post r ON l.g = r.g AND l.doc_id <> r.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, c AS n_common, sa.n AS n_a,
           CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
    FROM common JOIN sizes sa ON common.id_a = sa.doc_id
    WHERE c * 5 >= sa.n * 4
    ORDER BY id_a, id_b
    """,
)
def dedup_containment_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: C(A,B) = |shingles(A) ∩ shingles(B)|
    / |shingles(A)| ≥ 0.8 flags document A as (near-)contained in B —
    the quote-inclusion/subset-duplicate case where symmetric Jaccard
    can stay arbitrarily low (a paragraph inside a book). Ordered pairs
    in BOTH directions; the threshold test is the integer cross-multiply
    `5·c ≥ 4·n_a`, so no float decides membership.

    Scale shape (r13 constant-factor pass, VERDICT r12 #2): the naive
    inverted-index posting self-join shuffles the full co-occurrence
    fan-out through the pair aggregate (2.79M fan-out → 2.26M distinct
    pairs for 512 output rows at sf0.1, 6.3 s). This is the textbook
    prefix-filter case (AllPairs, Bayardo et al. 2007; PPJoin, Xiao et
    al. 2008): C(A,B) ≥ 4/5 means B misses at most ⌊n_a/5⌋ of A's
    shingles, so any qualifying B must share one of A's ⌊n_a/5⌋+1
    globally-RAREST shingles (df-ascending order minimizes candidate
    fan-out) — the candidate join runs prefix(A)⋈postings(B) only
    (363k fan-out, 7.7× less), and candidates verify EXACTLY via
    array_intersect on the per-doc shingle sets (no float, no sketch —
    a guaranteed-no-false-negative prune, measured 6.3 s → ~2.5 s).
    At 100 TB: the df census groups on g and the candidate join reuses
    that g-partitioning; the verify step is two doc-keyed joins; the
    n_b ≥ 0.8·n_a size bound prunes candidates before arrays move.
    The MinHash analog for scale is containment-LSH over the same
    banded buckets (decontam_ngram_overlap is the one-sided eval-set
    special case of this operator).
    """
    d = table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    # hashed shingles, not strings: set sizes and intersection counts are
    # identical modulo 64-bit collisions (the repo-standard equivalence,
    # operators/dedup.shingle_hashes) and the output carries only COUNTS,
    # so every downstream shuffle moves 8-byte longs — the string
    # shingling alone cost 3.2 s of the 6.3 s at sf0.1
    sh = (
        shingle_hashes(d, "text", "doc_id", 3)
        .select(
            F.col("_sid").alias("_id"), F.col("_shingle_hashes").alias("_s")
        )
        .localCheckpoint(eager=False)  # shingle once; prefix + verify reuse
    )
    post = sh.select("_id", F.explode("_s").alias("g")).localCheckpoint(
        eager=False
    )  # consumed by df census, prefix ranking, and the candidate join
    df_g = post.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("_id").orderBy("df", "g")
    wsz = Window.partitionBy("_id")
    prefix = (
        post.join(df_g, "g")
        .select(
            "_id",
            "g",
            F.row_number().over(wdoc).alias("rk"),
            F.count(F.lit(1)).over(wsz).alias("n"),
        )
        .filter(F.col("rk") <= F.floor(F.col("n") / 5) + 1)
        .select("_id", "g")
    )
    cand = (
        prefix.alias("p")
        .join(
            post.alias("q"),
            (F.col("p.g") == F.col("q.g")) & (F.col("p._id") != F.col("q._id")),
        )
        .select(F.col("p._id").alias("id_a"), F.col("q._id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(
        F.col("_id").alias("id_a"),
        F.col("_s").alias("s_a"),
        F.size("_s").alias("n_a"),
    )
    sb = sh.select(
        F.col("_id").alias("id_b"),
        F.col("_s").alias("s_b"),
        F.size("_s").alias("n_b"),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        # size bound: c <= min(n_a, n_b) and c >= 0.8 n_a force
        # 5 n_b >= 4 n_a — prune before the intersection is computed
        .filter(F.col("n_b") * 5 >= F.col("n_a") * 4)
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("s_a", "s_b")).alias("n_common"),
            "n_a",
        )
        .filter(F.col("n_common") * 5 >= F.col("n_a") * 4)
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_a",
            (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias(
                "containment"
            ),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "sketch_minhash_source_merge",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    post AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 2 + 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks
    ),
    hashed AS (
      SELECT source, p.perm AS perm,
             CAST(('0x' || substr(md5(g || '#' || CAST(p.perm AS VARCHAR)), 1, 12))
                  AS UBIGINT) AS h
      FROM post, range({_N_PERMS}) p(perm)
    ),
    per_source AS (
      SELECT source, perm, min(h) AS sig FROM hashed GROUP BY source, perm
    )
    SELECT source, CAST(perm AS INT) AS perm, CAST(sig AS BIGINT) AS sig
    FROM per_source
    UNION ALL
    SELECT '__all__' AS source, CAST(perm AS INT) AS perm,
           CAST(min(sig) AS BIGINT) AS sig
    FROM per_source GROUP BY perm
    ORDER BY source, perm
    """,
)
def sketch_minhash_source_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable MinHash signatures per source, plus the merged corpus
    signature — proving the property that makes MinHash a 100 TB
    sketch: the signature of a UNION is the elementwise MIN of the
    signatures, so per-partition/per-source sketches combine without
    revisiting data (same contract as the HLL and GK rows). The hash
    family is md5-derived (operators/sampling.py recipe) rather than
    xxhash64 precisely so the sketch is ENGINE-portable — the oracle
    rebuilds every lane bit-exact in DuckDB.

    Scale shape: shingle postings fold to (source, perm) minimums
    map-side — the shuffle carries |sources|·|perms| partial rows, not
    postings; the corpus-level merge reads the per-source RESULT
    (sketch-sized), never the data. Jaccard-from-signature estimation
    between sources is then signature-width work on the driver.
    """
    d = fan_out(table(spark, sf_dir, "documents")).filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )  # md5 perm fan-out above a 1-row-group scan: full width (r13)
    post = (
        d.select("source", F.explode(word_shingles(F.col("text"), 3)).alias("g"))
        .distinct()
        .select(
            "source", "g", F.explode(F.sequence(F.lit(0), F.lit(_N_PERMS - 1))).alias("perm")
        )
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("g"), F.lit("#"), F.col("perm"))), 1, 12),
        16,
        10,
    ).cast("long")
    per_source = (
        post.select("source", "perm", h.alias("h"))
        .groupBy("source", "perm")
        .agg(F.min("h").alias("sig"))
    )
    merged = per_source.groupBy("perm").agg(F.min("sig").alias("sig")).select(
        F.lit("__all__").alias("source"), "perm", "sig"
    )
    return (
        per_source.select("source", F.col("perm").cast("int").alias("perm"), "sig")
        .unionByName(merged.select("source", F.col("perm").cast("int").alias("perm"), "sig"))
        .orderBy("source", "perm")
    )


_PI_ITERS = 3


def _pi_iteration_sql(i: int) -> str:
    """One unrolled power-iteration step in the oracle's CTE chain:
    quantized per-row dot (1e9), quantized component sums (1e6),
    quantized norm (1e12) — every cross-element summation is an exact
    BIGINT fold, so reduction order cannot matter in either engine."""
    dot = "xj * 0.125" if i == 1 else f"xj * v{i - 1}.v"
    join = "" if i == 1 else f" JOIN v{i - 1} USING (j)"
    return f"""
    s{i} AS (
      SELECT vec_id,
             sum(CAST(floor({dot} * 1e9) AS BIGINT)) AS si
      FROM x_long{join}
      GROUP BY vec_id
    ),
    w{i} AS (
      SELECT j, sum(CAST(floor(xj * (s{i}.si / 1e9) * 1e6) AS BIGINT)) AS wi
      FROM x_long JOIN s{i} USING (vec_id) GROUP BY j
    ),
    n{i} AS (
      SELECT sqrt(sum(CAST(floor((wi / 1e6) * (wi / 1e6) * 1e12) AS BIGINT))
                  / 1e12) AS nrm
      FROM w{i}
    ),
    v{i} AS (SELECT j, (wi / 1e6) / n{i}.nrm AS v FROM w{i}, n{i})"""


@query(
    "embedding_power_iteration_pc1",
    oracle=f"""
    WITH x_long AS (
      SELECT vec_id, r.j, CAST(embedding[r.j + 1] AS DOUBLE) AS xj
      FROM embeddings, range(64) r(j)
    ),
    {",".join(_pi_iteration_sql(i) for i in range(1, _PI_ITERS + 1))}
    SELECT CAST(v{_PI_ITERS}.j AS INT) AS dim, v{_PI_ITERS}.v AS pc1,
           n{_PI_ITERS}.nrm AS eigval_proxy
    FROM v{_PI_ITERS}, n{_PI_ITERS}
    ORDER BY dim
    """,
)
def embedding_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by MATRIX-FREE
    power iteration — v ← normalize(Σ_rows x·(x·v)) for 3 fixed
    iterations from v₀ = 1/√64 — the iterative-linear-algebra row next
    to PageRank/BFS/CC: Gram matrix never materializes, each step is one
    scan + one 64-group aggregate, which is exactly how Krylov methods
    run on a 100 TB matrix (the per-iteration reduction is d numbers,
    not d²).

    Bit-reproducibility is the hard part and the point: EVERY
    cross-element summation — the per-row dot, the per-dimension
    component sums, the squared norm — folds exact BIGINTs (floor
    quantization at 1e9/1e6/1e12), so neither Spark's partition order
    nor DuckDB's aggregation order can perturb a single bit; the only
    float ops are single multiplies/divides/sqrt evaluated identically
    from identical inputs. The oracle unrolls all three iterations in
    SQL and must land on the same 64-vector to the last bit.

    Scale: the embedding scan is checkpointed once and re-read per
    iteration (3 passes total). Each pass is ONE Arrow-batch GEMM kernel
    (the `embedding_random_projection` pattern): per batch, numpy
    computes the quantized per-row dot `s` and folds the per-dimension
    contributions `floor(x_j·s·1e6)` into 64 exact int64 partial sums —
    so every task emits 64 longs per batch and the shuffle carries only
    those (no 64× posexplode row inflation; the corpus is scanned 1×
    per pass, not 64×). The final fold is a 64-group sum over
    batches×64 rows. Driver work is the 64-element normalize.

    The numpy kernel replays the exact expression shapes the previous
    declarative form used — `(e_j·v_j)·1e9`, `(x_j·s)·1e6`, int64
    accumulation — so IEEE-754 double ops and exact integer sums land
    on the same bits the unrolled SQL oracle computes.
    """
    import math

    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    ).localCheckpoint(eager=False)

    d = 64
    v = [0.125] * d
    nrm = 0.0
    for _ in range(_PI_ITERS):
        v_arr = np.asarray(v, dtype=np.float64)

        def gen(batches, v_arr=v_arr):
            # Fail-loud overflow budget: Spark's floor().cast('long')
            # CLAMPS at Long.MAX (the floor-clamp rule, SCALE.md), but
            # numpy astype(int64) silently WRAPS — so the kernel bounds
            # every quantized term far below either behavior and raises
            # if the data outgrows the budget (rescale the quantization
            # then). 2^62 leaves 2x headroom over any clamp ambiguity.
            cap = float(1 << 62)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                e = np.vstack(pdf["e"].to_numpy()).astype(np.float64)
                # per-row quantized dot: Σ_j floor((e_j·v_j)·1e9) as int64
                t1 = np.floor((e * v_arr) * 1e9)
                if np.abs(t1).max(initial=0.0) >= cap:
                    raise OverflowError(
                        "power-iteration quantized dot term exceeds the "
                        "int64 budget; lower the 1e9 quantization scale"
                    )
                s_int = t1.astype(np.int64).sum(axis=1)
                s = s_int / 1e9
                # per-dim partials: Σ_rows floor((x_j·s)·1e6) as int64
                t2 = np.floor((e * s[:, None]) * 1e6)
                if np.abs(t2).max(initial=0.0) >= cap:
                    raise OverflowError(
                        "power-iteration quantized partial exceeds the "
                        "int64 budget; lower the 1e6 quantization scale"
                    )
                q = t2.astype(np.int64)
                yield pd.DataFrame(
                    {"j": np.arange(d, dtype=np.int32), "q": q.sum(axis=0)}
                )

        rows = (
            base.select("e")
            .mapInPandas(gen, "j int, q long")
            .groupBy("j")
            .agg(F.sum("q").alias("wi"))
            .collect()
        )
        w = {r["j"]: r["wi"] / 1e6 for r in rows}
        wv = [w.get(j, 0.0) for j in range(d)]
        nrm = math.sqrt(sum(int(math.floor(c * c * 1e12)) for c in wv) / 1e12)
        v = [c / nrm for c in wv]

    out = [(j, v[j], nrm) for j in range(d)]
    return spark.createDataFrame(
        out, "dim int, pc1 double, eigval_proxy double"
    ).orderBy("dim")


@query(
    "embedding_covariance_matrix",
    oracle="""
    WITH x_long AS (
      SELECT vec_id, r.j, CAST(embedding[r.j + 1] AS DOUBLE) AS xj
      FROM embeddings, range(8) r(j)
    ),
    n AS (SELECT count(DISTINCT vec_id) AS n FROM x_long),
    moments AS (
      SELECT a.j AS j, b.j AS k,
             sum(CAST(floor(a.xj * b.xj * 1e9) AS BIGINT)) AS sjk
      FROM x_long a JOIN x_long b USING (vec_id)
      GROUP BY a.j, b.j
    ),
    means AS (
      SELECT j, sum(CAST(floor(xj * 1e9) AS BIGINT)) AS sj
      FROM x_long GROUP BY j
    )
    SELECT CAST(m.j AS INT) AS dim_j, CAST(m.k AS INT) AS dim_k,
           (m.sjk / 1e9) / n.n
             - ((ma.sj / 1e9) / n.n) * ((mb.sj / 1e9) / n.n) AS cov
    FROM moments m
    JOIN means ma ON ma.j = m.j
    JOIN means mb ON mb.j = m.k
    CROSS JOIN n
    ORDER BY dim_j, dim_k
    """,
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance of the first 8 embedding dimensions in ONE pass —
    the second-moment statistic whitening/PCA/Mahalanobis all start
    from, computed as quantized-BIGINT raw moments (Σxy, Σx, n) so the
    result is bit-identical across engines and partitionings (the
    power-iteration recipe applied to the d×d case). Restricted to 8
    dims (64 cells) to keep the oracle's self-join test-sized; the Spark
    side generates the upper-triangle-free full outer product IN-ROW
    (one nested transform + one explode, d² cells per row), so the
    shuffle carries 64 partial sums per task, never row pairs.

    100 TB: this is the standard map-side outer-product reduce — cost is
    d²·rows multiply-adds in the scan stage and an O(d²) aggregate; the
    self-join form the ORACLE states (row × row on vec_id) is what you
    must NOT run at scale.
    """
    d = 8
    emb = table(spark, sf_dir, "embeddings")
    e8 = F.slice(
        F.transform(F.col("embedding"), lambda x: x.cast("double")), 1, d
    )
    cells = F.flatten(
        F.transform(
            e8,
            lambda xj, j: F.transform(
                e8,
                lambda xk, k: F.struct(
                    j.alias("j"),
                    k.alias("k"),
                    F.floor(xj * xk * 1e9).cast("long").alias("q"),
                    F.floor(xj * 1e9).cast("long").alias("qj"),
                ),
            ),
        )
    )
    longf = emb.select(F.explode(cells).alias("c")).select(
        F.col("c.j").alias("j"), F.col("c.k").alias("k"),
        F.col("c.q").alias("q"), F.col("c.qj").alias("qj"),
    )
    moments = longf.groupBy("j", "k").agg(
        F.sum("q").alias("sjk"),
        # Σxj rides the same shuffle: the k==0 slice of qj is one j-sum
        F.sum(F.when(F.col("k") == 0, F.col("qj"))).alias("sj_part"),
    ).localCheckpoint(eager=False)  # d² rows feed the result AND both mean sides
    n_row = emb.agg(F.count(F.lit(1)).alias("n"))
    means = moments.where(F.col("k") == 0).select(
        F.col("j").alias("mj"), F.col("sj_part").alias("sj")
    )
    ma = means.select(F.col("mj").alias("j"), F.col("sj").alias("sja"))
    mb = means.select(F.col("mj").alias("k"), F.col("sj").alias("sjb"))
    return (
        moments.join(F.broadcast(ma), "j")
        .join(F.broadcast(mb), "k")
        .crossJoin(F.broadcast(n_row))
        .select(
            F.col("j").cast("int").alias("dim_j"),
            F.col("k").cast("int").alias("dim_k"),
            (
                (F.col("sjk") / 1e9) / F.col("n")
                - ((F.col("sja") / 1e9) / F.col("n"))
                * ((F.col("sjb") / 1e9) / F.col("n"))
            ).alias("cov"),
        )
        .orderBy("dim_j", "dim_k")
    )


@query(
    "window_running_distinct_types",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
               THEN 1 ELSE 0 END AS first_of_type
      FROM events
    ),
    running AS (
      SELECT user_id,
             row_number() OVER w AS rn,
             sum(first_of_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS seen
      FROM flagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(max(rn) AS BIGINT) AS n_events,
           CAST(max(seen) AS BIGINT) AS n_distinct_types,
           CAST(min(CASE WHEN seen >= 3 THEN rn END) AS BIGINT)
             AS events_to_third_type
    FROM running GROUP BY user_id ORDER BY user_id
    """,
)
def window_running_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count inside an ordered window — the
    first-occurrence-flag recipe: rank each (user, type) pair once,
    running-sum the flags on the user's timeline. Distinct isn't
    frame-decomposable, so naive windows can't express this; the flag
    trick makes it ONE extra window over the same sort. Reported per
    user: event count, distinct event types, and how many events until
    the third distinct type appeared (time-to-coverage, the engagement
    metric this pattern usually feeds).

    Scale: two windows sharing the user_id exchange ((user,type) rank
    re-sorts within partitions only) + one rollup; no distinct-agg
    shuffle, no set-carrying state.
    """
    ev = table(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        (F.row_number().over(wt) == 1).cast("int").alias("first_of_type"),
        F.row_number().over(wu).alias("rn"),
        F.sum((F.row_number().over(wt) == 1).cast("int"))
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("seen"),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.max("rn").cast("long").alias("n_events"),
            F.max("seen").cast("long").alias("n_distinct_types"),
            F.min(F.when(F.col("seen") >= 3, F.col("rn")))
            .cast("long")
            .alias("events_to_third_type"),
        )
        .orderBy("user_id")
    )


_KM_C = 4  # centroids
_KM_ITERS = 2


def _km_iteration_sql(i: int) -> str:
    """One unrolled Lloyd step: quantized squared distances (BIGINT), argmin
    by (distance, centroid id), centroid update from quantized component
    sums / exact counts. c{i-1} is the previous centroid table (j, cid, cj)."""
    return f"""
    d{i} AS (
      SELECT x_long.vec_id, c.cid,
             sum(CAST(floor((xj - c.cj) * (xj - c.cj) * 1e9) AS BIGINT)) AS qd
      FROM x_long JOIN c{i - 1} c USING (j)
      GROUP BY x_long.vec_id, c.cid
    ),
    a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY qd, cid) AS rk
        FROM d{i}
      ) WHERE rk = 1
    ),
    c{i} AS (
      SELECT x_long.j, a.cid,
             (sum(CAST(floor(xj * 1e9) AS BIGINT)) / 1e9) / count(*) AS cj
      FROM x_long JOIN a{i} a USING (vec_id)
      GROUP BY x_long.j, a.cid
    )"""


@query(
    "embedding_kmeans_lloyd",
    oracle=f"""
    WITH x_long AS (
      SELECT vec_id, r.j, CAST(embedding[r.j + 1] AS DOUBLE) AS xj
      FROM embeddings, range(64) r(j)
    ),
    c0 AS (
      SELECT j, CAST(vec_id AS INT) AS cid, xj AS cj
      FROM x_long WHERE vec_id < {_KM_C}
    ),
    {",".join(_km_iteration_sql(i) for i in range(1, _KM_ITERS + 1))}
    SELECT a.cid AS cid,
           CAST(count(*) AS BIGINT) AS n_members,
           min(a.vec_id) AS min_member,
           CAST((SELECT sum(CAST(floor(c.cj * 1e6) AS BIGINT))
                   FROM c{_KM_ITERS} c WHERE c.cid = a.cid) AS BIGINT)
             AS centroid_q6_sum
    FROM a{_KM_ITERS} a
    GROUP BY a.cid ORDER BY cid
    """,
)
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means: two unrolled Lloyd iterations from a
    content-addressed init (centroids = the 4 lowest vec_ids), with
    every cross-row accumulation quantized to exact BIGINTs — squared
    distances fold floor-quantized terms, assignments break ties by
    (distance, centroid id), and centroid updates divide exact component
    sums by exact counts. Unlike MLlib's KMeans (RNG init, float
    reduction order), this run is bit-reproducible and the oracle
    replays both iterations in SQL: per cluster it must match the member
    count, the smallest member id, AND a quantized checksum of all 64
    centroid coordinates.

    Scale: the per-iteration plan is posexplode → broadcast-centroid
    join → two map-side-combined aggregates (assignment argmin over
    k rows/vector, update over k·d cells) — no pairwise materialization,
    centroids collect O(k·d) to the driver per iteration exactly like
    IVF training. The iterative trio (PageRank / power iteration /
    Lloyd) shares this one-scan-per-round shape.
    """
    emb = table(spark, sf_dir, "embeddings")
    base = (
        emb.select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        )
        .localCheckpoint(eager=False)
    )
    x_long = base.select("vec_id", F.posexplode("e").alias("j", "xj"))

    cent = (
        x_long.filter(F.col("vec_id") < _KM_C)
        .select("j", F.col("vec_id").cast("int").alias("cid"), F.col("xj").alias("cj"))
    )

    def assign_to(cent: DataFrame) -> DataFrame:
        qd = (
            x_long.join(F.broadcast(cent), "j")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    F.floor(
                        (F.col("xj") - F.col("cj")) * (F.col("xj") - F.col("cj")) * 1e9
                    ).cast("long")
                ).alias("qd")
            )
        )
        return qd.groupBy("vec_id").agg(
            F.min_by("cid", F.struct("qd", "cid")).alias("cid")
        )

    def step(cent: DataFrame) -> DataFrame:
        return (
            x_long.join(assign_to(cent), "vec_id")
            .groupBy("j", "cid")
            .agg(
                (
                    (F.sum(F.floor(F.col("xj") * 1e9).cast("long")) / 1e9)
                    / F.count(F.lit(1))
                ).alias("cj")
            )
        )

    cents = rounds(cent, step, _KM_ITERS)
    # the final assignment is the last round's, against its input centroids
    assign, cent = assign_to(cents[-2]), cents[-1]
    checksum = cent.groupBy("cid").agg(
        F.sum(F.floor(F.col("cj") * 1e6).cast("long")).alias("centroid_q6_sum")
    )
    return (
        assign.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_member"),
        )
        .join(checksum, "cid")
        .select("cid", "n_members", "min_member", "centroid_q6_sum")
        .orderBy("cid")
    )


@query(
    "multimodal_video_scene_cuts",
    oracle="""
    WITH ids AS (
      SELECT doc_id, 16 + (doc_id % 8) * 2 AS w, 8 + (doc_id % 6) * 2 AS h,
             3 + doc_id % 4 AS nf, (3 + doc_id % 4) // 2 AS tc
      FROM documents WHERE doc_id < 48
    ),
    mo AS (
      SELECT i.doc_id, t.t, i.tc,
             avg(abs(
               (CASE WHEN t.t >= i.tc
                     THEN (3 * x.x + 5 * y.y + 17 * t.t + i.doc_id + 100) % 256
                     ELSE (5 * x.x + 3 * y.y + 17 * t.t + i.doc_id) % 256 END)
               -
               (CASE WHEN t.t - 1 >= i.tc
                     THEN (3 * x.x + 5 * y.y + 17 * (t.t - 1) + i.doc_id + 100) % 256
                     ELSE (5 * x.x + 3 * y.y + 17 * (t.t - 1) + i.doc_id) % 256 END)
             )) AS motion
      FROM ids i,
           unnest(range(1, i.nf)) AS t(t),
           unnest(range(0, i.w)) AS x(x),
           unnest(range(0, i.h)) AS y(y)
      GROUP BY i.doc_id, t.t, i.tc
    ),
    mo2 AS (
      SELECT *, min(CASE WHEN motion > 60 THEN t END)
                  OVER (PARTITION BY doc_id) AS fc
      FROM mo
    )
    SELECT doc_id,
           CAST(count(*) + 1 AS INT) AS n_frames,
           CAST(sum(CASE WHEN motion > 60 THEN 1 ELSE 0 END) AS INT) AS n_cuts,
           CAST(coalesce(min(CASE WHEN motion > 60 THEN t END), -1) AS INT)
             AS cut_at,
           coalesce(max(CASE WHEN t = fc THEN motion END), 0.0) AS cut_motion
    FROM mo2 GROUP BY doc_id
    """,
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection on REAL video streams: clips synthesized
    with a hard scene change at frame nf//2 (the formula switches), then
    decoded and scanned for transitions whose mean |ΔY| exceeds the
    threshold. The TRUE boundary always fires first (cut_at == nf//2 on
    every clip, unit-pinned); some clips also fire later false positives
    where the mod-256 wrap aligns badly — the honest behavior of a
    threshold detector on high-frequency content, and the oracle replays
    EVERY pixel of EVERY transition so it must agree on true cuts and
    false alarms alike. Completes the video lane: features → frame
    sampling → temporal segmentation.

    100 TB: synth → detect are scan-stage mapInPandas; per clip the
    operator holds one decoded frame pair at a time conceptually (numpy
    does the clip at once here; a streaing decoder swaps in for long
    clips); only slim per-clip features reach the plan.
    """
    from ..operators.multimodal import detect_y4m_cuts, synth_y4m_scenes

    d = table(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 48)
    vid = synth_y4m_scenes(d, "doc_id")
    return detect_y4m_cuts(vid).select(
        "doc_id", "n_frames", "n_cuts", "cut_at", "cut_motion"
    )


@query(
    "multimodal_audio_resample",
    oracle="""
    SELECT doc_id,
           CAST(4000 AS INT) AS sample_rate,
           CAST(1000 AS INT) AS n_samples,
           CAST(100 + (doc_id % 25) * 8 AS DOUBLE) AS dominant_freq_hz
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resampling certified arithmetically: synthesize PCM16
    WAV sines (8 kHz, 2000 samples), DECIMATE by 2 to 4 kHz, decode and
    re-extract the dominant frequency. The oracle predicts the
    post-resample result exactly — rate halves, sample count halves, and
    because every synthesized tone (≤ 292 Hz) is band-limited below the
    new 2 kHz Nyquist AND still lands on an exact FFT bin (bin width 4 Hz
    both before and after), the dominant frequency must be UNCHANGED. A
    wrong stride, a header not rewritten, or an off-by-one in the data
    chunk all shift the detected bin and break the hash.

    100 TB: synth → resample → decode are three scan-stage mapInPandas
    ops; audio bytes never cross a shuffle (the wide-row rule); only the
    slim feature columns reach the exchange-free projection.
    """
    from ..operators.multimodal import decode_wav_features, resample_wav, synth_wav

    d = table(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    half = resample_wav(synth_wav(d, "doc_id"), factor=2)
    return decode_wav_features(half).select(
        "doc_id", "sample_rate", "n_samples", "dominant_freq_hz"
    )
