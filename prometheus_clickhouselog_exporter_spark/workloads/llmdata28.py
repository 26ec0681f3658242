"""LLM-data ops, round 9 batch 1: consistent-weighted-sampling sketch
for weighted Jaccard (the ICWS path the r8 verdict ordered —
`dedup_weighted_jaccard`'s docstring names it as the corpus-scale
plan, relational10.py).

The exact weighted-Jaccard query is pair-quadratic by construction
(every qualifying pair is output). The sketch path bounds the PAIR
SPACE instead: each document folds to a fixed-size signature whose
per-position collision probability IS the (capped) weighted Jaccard,
banded signatures generate candidates, and only candidates are
re-ranked exactly. For INTEGER weights, consistent weighted sampling
reduces to MinHash over the replica multiset {(tok, 1..tf)} (Ioffe
2010 §2 — the "explicit replication" construction; the continuous
ICWS replaces it only to avoid materializing replicas, which the
prefix-min trick below avoids anyway): signatures need
min_{j<=tf} h(tok, j, perm), and because h is doc-independent that
min is a PREFIX-MIN over j computable once per (token, perm) — the
replica fan-out is |vocab|·cap·perms, never corpus-sized.

Cross-engine determinism: the md5 12-hex hash family (core.MD5_SQL),
identical prefix-min windows (bounded: <=cap rows per partition), and
integer cross-multiplied thresholds — the whole pipeline, candidates
included, is value-hash-matched against DuckDB.

Reference parity note: /root/reference has no dedup surface
(query.go:1-289); §2.3 north-star territory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.rounds import rounds
from .core import fan_out, MD5_SQL, fround, md5_long, newton_logit, newton_logit_sql, query, table

_P = 32  # signature positions (perms)
_R = 4  # band width -> 8 bands; P(candidate|J) = 1-(1-J^4)^8
_CAP = 8  # replica cap per token in the SKETCH (re-rank uses raw tf)
_HASH_X = "tok || '#' || CAST(r.r AS VARCHAR) || '#' || CAST(p.perm AS VARCHAR)"


def icws_candidates(tf: DataFrame, band_width: int = _R) -> DataFrame:
    """(doc_id, tok, tf) → banded ICWS candidate pairs (id_a < id_b).

    The reusable sketch stage of `dedup_weighted_jaccard_icws` (see the
    module docstring for the prefix-min construction): per-(token, perm)
    prefix-minima over replica index 1..min(tf, cap), per-doc signature
    = min over its tokens at r = tf, signatures banded `band_width`-wide
    into P/band_width bands, equal bands → candidate. Narrower bands
    trade precision for recall at lower similarity thresholds:
    P(cand|J) = 1-(1-J^w)^(P/w) — w=4 targets J>=0.8 (0.985 recall),
    w=2 targets J>=0.5 (0.990 recall). `dedup_weighted_jaccard`'s
    corpus-scale arm calls this with w=2; re-rank is always exact on
    raw tf, so band width costs recall only, never precision."""
    assert _P % band_width == 0, "band width must divide the perm count"
    tokmax = tf.groupBy("tok").agg(
        F.least(F.max("tf"), F.lit(_CAP)).cast("int").alias("mw")
    )
    pref0 = tokmax.select(
        "tok",
        F.explode(F.sequence(F.lit(1), F.col("mw"))).alias("r"),
    ).select(
        "tok",
        "r",
        F.explode(F.sequence(F.lit(0), F.lit(_P - 1))).alias("perm"),
    ).select(
        "tok",
        "r",
        "perm",
        md5_long(F.concat_ws("#", F.col("tok"), F.col("r"), F.col("perm"))).alias(
            "h"
        ),
    )
    wpm = (
        Window.partitionBy("tok", "perm")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = pref0.select("tok", "r", "perm", F.min("h").over(wpm).alias("pm"))
    sigs = (
        tf.withColumn("r", F.least(F.col("tf"), F.lit(_CAP)).cast("int"))
        .join(pref, ["tok", "r"])
        .groupBy("doc_id", "perm")
        .agg(F.min("pm").alias("sig"))
        .localCheckpoint(eager=False)  # both band sides
    )
    bands = (
        sigs.groupBy(
            "doc_id", (F.col("perm") / band_width).cast("int").alias("band")
        )
        .agg(
            *[
                F.min(
                    F.when(F.col("perm") % band_width == i, F.col("sig"))
                ).alias(f"s{i}")
                for i in range(band_width)
            ]
        )
        .localCheckpoint(eager=False)  # self-joined a/b
    )
    bkeys = ["band"] + [f"s{i}" for i in range(band_width)]
    a = bands.select(F.col("doc_id").alias("id_a"), *bkeys)
    b = bands.select(F.col("doc_id").alias("id_b"), *bkeys)
    return (
        a.join(b, bkeys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@query(
    "dedup_weighted_jaccard_icws",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    tokmax AS (
      SELECT tok, least(max(tf), {_CAP}) AS mw FROM tf GROUP BY tok
    ),
    pref0 AS (
      SELECT tok, r.r AS r, p.perm AS perm,
             CAST({MD5_SQL.format(x=_HASH_X)} AS BIGINT) AS h
      FROM tokmax, range(1, {_CAP} + 1) r(r), range({_P}) p(perm)
      WHERE r.r <= mw
    ),
    pref AS (
      SELECT tok, r, perm,
             min(h) OVER (PARTITION BY tok, perm ORDER BY r
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pm
      FROM pref0
    ),
    sigs AS MATERIALIZED (
      SELECT f.doc_id, p.perm, min(p.pm) AS sig
      FROM tf f JOIN pref p
        ON p.tok = f.tok AND p.r = least(f.tf, {_CAP})
      GROUP BY 1, 2
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, perm // {_R} AS band,
             min(CASE WHEN perm % {_R} = 0 THEN sig END) AS s0,
             min(CASE WHEN perm % {_R} = 1 THEN sig END) AS s1,
             min(CASE WHEN perm % {_R} = 2 THEN sig END) AS s2,
             min(CASE WHEN perm % {_R} = 3 THEN sig END) AS s3
      FROM sigs GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.s0 = b.s0 AND a.s1 = b.s1
       AND a.s2 = b.s2 AND a.s3 = b.s3 AND a.doc_id < b.doc_id
    ),
    totals AS (SELECT doc_id, sum(tf) AS t FROM tf GROUP BY doc_id),
    mins AS (
      SELECT c.id_a, c.id_b, sum(least(fa.tf, fb.tf)) AS smin
      FROM cand c
      JOIN tf fa ON fa.doc_id = c.id_a
      JOIN tf fb ON fb.doc_id = c.id_b AND fb.tok = fa.tok
      GROUP BY 1, 2
    )
    SELECT m.id_a, m.id_b,
           CAST(m.smin AS BIGINT) AS sum_min,
           CAST(ta.t + tb.t - m.smin AS BIGINT) AS sum_max,
           CAST(m.smin AS DOUBLE)
             / CAST(ta.t + tb.t - m.smin AS DOUBLE) AS weighted_jaccard
    FROM mins m
    JOIN totals ta ON ta.doc_id = m.id_a
    JOIN totals tb ON tb.doc_id = m.id_b
    WHERE m.smin * 9 >= (ta.t + tb.t) * 4
    ORDER BY m.id_a, m.id_b
    """,
)
def dedup_weighted_jaccard_icws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Jaccard near-dup detection by CONSISTENT WEIGHTED
    SAMPLING sketch + banded candidate join + exact re-rank — the
    corpus-scale path `dedup_weighted_jaccard` names: neither the
    quadratic dense-profile pair join nor the full posting join runs;
    pair work is bounded by the sketch collisions.

    Pipeline: (1) per-(token, perm) PREFIX-MINIMA of md5 hashes over
    replica index 1..min(tf,cap) — signatures of the replica multiset
    without replicating the corpus (fan-out = |V|·cap·P rows, window
    partitions <=cap rows); (2) per-doc signature = min over its
    tokens' prefix-minima at r = its tf (one postings join, P-fanned
    map-side); (3) signatures banded 4-wide into 8 bands, equal bands
    → candidate (P[cand|J] = 1−(1−J⁴)⁸: 0.985 at J=0.8, 0.07 at
    J=0.3); (4) candidates re-ranked EXACTLY on raw term frequencies,
    kept at J >= 0.8 via the integer cross-multiply 9·Σmin >= 4·(Tₐ+T_b).
    Output schema matches the exact query; at sf0.1 banding recalls
    256/256 of the exact J>=0.8 pairs (pinned >=0.9 in
    tests/test_llmdata28.py against the full pair join).

    Re-rank dispatch (the dedup_weighted_jaccard adaptive rule): on a
    tiny vocabulary (<=2048 — this corpus: 31 tokens) candidates meet
    dense vocab-indexed tf profiles in a broadcast join and Σmin is a
    per-row zip_with fold (no exploded shuffle); on a real vocabulary
    the posting join runs RESTRICTED TO CANDIDATES — both are exact,
    so the oracle's posting form certifies either. This corpus is the
    sketch's worst case (31 shared tokens make most pairs similar:
    2.5M candidates of 12.5M pairs at sf0.1); on a web corpus with
    J~0 background, candidates ≈ true near-dups and the pair space
    collapses — which is the whole point of ICWS.

    100 TB: signature build is one postings-shaped shuffle (P partials
    fold map-side per doc); banding shuffles |docs|·8 fixed-width
    rows; candidate dedup + re-rank shuffle candidate-cardinality
    rows. cap bounds sketch error on repetitive docs (re-rank is on
    raw tf, so caps cost recall only, never precision).

    Ref cite: none — /root/reference has no dedup surface."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # sigs join + totals + re-rank
    )
    cand = icws_candidates(tf).localCheckpoint(
        eager=False
    )  # re-rank probes it twice
    totals = tf.groupBy("doc_id").agg(F.sum("tf").alias("t"))
    # NB: the dispatch count and the dense index each run their own
    # distinct — merging them behind a localCheckpoint hides the
    # HashAggregate from plan_audit's bounded-window proof (the
    # documented checkpoint-under-global-window trap) for zero measured
    # gain, so the two-distinct form stays.
    n_vocab = tf.select("tok").distinct().count()
    if n_vocab <= 2048:
        # dense re-rank: candidates meet broadcast vocab-indexed profiles.
        # NB (r13 optimization pass): a numpy mapInPandas re-rank via
        # Σmin = (T_a+T_b−L1)/2 was landed on one A/B (8.30 → 6.15) and
        # REVERTED after a 5-round interleaved A/B on a quieter window
        # showed it neutral-to-slower (old 5.47 min / 6.41 median vs new
        # 6.35 / 6.85) — the zip_with fold is not this query's bottleneck
        # (piecewise: candidates 2.1 s, re-rank 1.2 s) and the collect +
        # broadcast round-trip per pass eats the codegen saving. The
        # broadcast-join form also needs no driver collect at 100 TB.
        vidx = tf.select("tok").distinct().withColumn(
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
        )
        pa = prof.select(
            F.col("doc_id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("t").alias("ta"),
        )
        pb = prof.select(
            F.col("doc_id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("t").alias("tb"),
        )
        smin = F.aggregate(
            F.zip_with(F.col("va"), F.col("vb"), lambda x, y: F.least(x, y)),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x,
        )
        pairs = (
            cand.repartition(spark.sparkContext.defaultParallelism)
            .join(F.broadcast(pa), "id_a")
            .join(F.broadcast(pb), "id_b")
            .withColumn("smin", smin)
        )
    else:
        # posting re-rank RESTRICTED TO CANDIDATES (candidate-bounded)
        fa = tf.select(
            F.col("doc_id").alias("id_a"), "tok", F.col("tf").alias("tfa")
        )
        fb = tf.select(
            F.col("doc_id").alias("id_b"), "tok", F.col("tf").alias("tfb")
        )
        ta_t = totals.select(
            F.col("doc_id").alias("id_a"), F.col("t").alias("ta")
        )
        tb_t = totals.select(
            F.col("doc_id").alias("id_b"), F.col("t").alias("tb")
        )
        pairs = (
            cand.join(fa, "id_a")
            .join(fb, ["id_b", "tok"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.least("tfa", "tfb")).alias("smin"))
            .join(ta_t, "id_a")
            .join(tb_t, "id_b")
        )
    smax = F.col("ta") + F.col("tb") - F.col("smin")
    return (
        pairs.where(F.col("smin") * 9 >= (F.col("ta") + F.col("tb")) * 4)
        .select(
            "id_a",
            "id_b",
            F.col("smin").cast("bigint").alias("sum_min"),
            smax.cast("bigint").alias("sum_max"),
            (F.col("smin").cast("double") / smax.cast("double")).alias(
                "weighted_jaccard"
            ),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "text_proximity_search",
    oracle="""
    WITH pos AS (
      SELECT doc_id, w[CAST(r.i AS BIGINT)] AS tok, r.i - 1 AS p
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           UNNEST(range(1, len(w) + 1)) AS r(i)
      WHERE w[CAST(r.i AS BIGINT)] IN ('spark', 'window')
    ),
    pa AS (SELECT doc_id, p FROM pos WHERE tok = 'spark'),
    pb AS (SELECT doc_id, p FROM pos WHERE tok = 'window'),
    d AS (
      SELECT a.doc_id,
             CAST(min(abs(a.p - b.p)) AS BIGINT) AS min_dist,
             CAST(count(DISTINCT a.p) AS BIGINT) AS n_a,
             CAST(count(DISTINCT b.p) AS BIGINT) AS n_b
      FROM pa a JOIN pb b ON b.doc_id = a.doc_id
      GROUP BY a.doc_id
    )
    SELECT doc_id, min_dist, n_a, n_b FROM d
    WHERE min_dist <= 3 ORDER BY doc_id
    """,
)
def text_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional proximity retrieval — the IR primitive BM25 cannot
    express ("spark" NEAR/3 "window"): documents where the two terms
    appear within 3 token positions, with the minimum gap and each
    term's occurrence count. Positions come from ONE posexplode scan
    filtered to the query terms AT THE SCAN (the positional-postings
    shape — only query-term postings ever leave the scan stage), the
    per-document gap is a doc-keyed equi-join of the two position
    lists (bounded by per-doc term frequency, never all positions),
    and the NEAR gate is exact integer arithmetic.

    100 TB: a real positional inverted index stores (term, doc, pos)
    sorted by term — this plan IS the query-side of that index with
    the scan standing in for the posting fetch; co-partitioning by
    doc_id makes the gap join shuffle-free when both postings come
    from the same index layout.

    Ref cite: none — /root/reference has no text-search surface."""
    pos = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
        )
        .filter(F.col("tok").isin("spark", "window"))
        .localCheckpoint(eager=False)  # both term sides
    )
    pa = pos.filter(F.col("tok") == "spark").select("doc_id", F.col("p").alias("pa"))
    pb = pos.filter(F.col("tok") == "window").select(
        "doc_id", F.col("p").alias("pb")
    )
    return (
        pa.join(pb, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("bigint").alias("min_dist"),
            F.countDistinct("pa").cast("bigint").alias("n_a"),
            F.countDistinct("pb").cast("bigint").alias("n_b"),
        )
        .filter(F.col("min_dist") <= 3)
        .orderBy("doc_id")
    )


_CC_ROUNDS = 6  # min-label propagation rounds (fixpoint pinned in pytest)

_LSH_PAIRS_SQL = """
    toks AS (
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
    pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM (
        SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS c
        FROM post l JOIN post r ON l.g = r.g AND l.doc_id < r.doc_id
        GROUP BY 1, 2
      ) j
      JOIN sizes sa ON j.id_a = sa.doc_id
      JOIN sizes sb ON j.id_b = sb.doc_id
      WHERE c / (sa.n + sb.n - c) >= 0.5
    ),
    e AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM e)
"""


def _cc_round(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
      SELECT n.id, least(n.label, coalesce(min(l.label), n.label)) AS label
      FROM {prev} n
      LEFT JOIN e ON e.dst = n.id
      LEFT JOIN {prev} l ON l.id = e.src
      GROUP BY n.id, n.label
    )"""


@query(
    "dedup_minhash_clusters_cc",
    oracle=f"""
    WITH {_LSH_PAIRS_SQL},
    c0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
    {",".join(_cc_round(f'c{i}', f'c{i + 1}') for i in range(_CC_ROUNDS))}
    SELECT CAST(label AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(id) AS BIGINT) AS keeper_id,
           CAST(count(*) - 1 AS BIGINT) AS n_removed
    FROM c{_CC_ROUNDS} GROUP BY label ORDER BY cluster_id
    """,
)
def dedup_minhash_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION composite: MinHash-LSH near-dup pairs (exact
    Jaccard >= 0.5, verified — dedup_minhash_lsh's certified pair set)
    are EDGES of a duplicate graph whose CONNECTED COMPONENTS are the
    duplicate clusters — the transitive closure a keep-one-per-cluster
    policy actually needs (pairwise keep-first removes too much when
    A~B, B~C, A!~C: treating pairs independently can drop both B and
    C; the cluster view keeps exactly one of {{A,B,C}}). Min-label
    propagation to fixpoint (6 synchronous rounds, fixpoint pinned in
    tests/test_llmdata28.py by running a 7th round and asserting no
    label moves), census per cluster: size, keeper (min doc_id), and
    how many docs a keep-one policy removes.

    100 TB: edges come from the banded-LSH candidate join (never
    all-pairs); each CC round shuffles O(edges) slim (dst, label)
    pairs with map-side min combining and a lineage cut per round —
    ``operators.dedup.min_label_rounds``, as in
    graph_connected_components; the production
    large-star/small-star alternation (O(log n) rounds on adversarial
    diameters) keeps the same per-round shuffle shape.

    Ref cite: none — /root/reference has no dedup surface."""
    from ..operators.dedup import min_label_rounds, minhash_lsh_dedup

    d = fan_out(table(spark, sf_dir, "documents")).filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )  # signature kernel above a 1-row-group scan: full width (r13)
    pairs = minhash_lsh_dedup(d, "text", "doc_id", threshold=0.5).select(
        "id_a", "id_b"
    )
    e = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .localCheckpoint(eager=False)  # reused every round
    )
    seed = e.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    lab = min_label_rounds(e, seed, _CC_ROUNDS)
    return (
        lab.groupBy(F.col("label").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("id").cast("bigint").alias("keeper_id"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"  # class-safe in Java + RE2


@query(
    "text_tokenizer_fertility",
    oracle=rf"""
    WITH per_doc AS (
      SELECT source, n_chars,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws,
             len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           floor(CAST(sum(bpe) AS DOUBLE) / sum(ws) * 1e6 + 0.5) / 1e6
             AS fertility,
           floor(CAST(sum(n_chars) AS DOUBLE) / sum(bpe) * 1e6 + 0.5) / 1e6
             AS chars_per_token
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility accounting — the token-budget planner's
    first table: per source, whitespace words vs BPE-style
    pre-tokenizer tokens (the GPT-2 pre-tokenizer's class-restricted
    shape, identical in Java regex and RE2), fertility =
    bpe_tokens/words (how many subwords a word costs — the
    multilingual-cost metric), and chars-per-token (compression).
    Sources whose fertility is high are more expensive per word of
    signal — the mixture planner reweights with exactly this table.

    100 TB: both tokenizations evaluate IN THE SCAN as expressions
    (regexp_extract_all + size — no explode, no shuffle of tokens);
    the only exchange carries |sources| partial-sum rows.

    Ref cite: none — /root/reference has no text surface."""
    d = table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", " "), lambda x: x != F.lit("")))
    # Spark SQL string literals eat one backslash level; DuckDB's don't
    bpe = F.size(
        F.expr(rf"regexp_extract_all(text, '{_BPE_RE.replace(chr(92), chr(92) * 2)}', 0)")
    )
    per = d.select("source", "n_chars", ws.alias("ws"), bpe.alias("bpe"))
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ws").cast("bigint").alias("ws_tokens"),
            F.sum("bpe").cast("bigint").alias("bpe_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            fround(
                F.sum("bpe").cast("double") / F.sum("ws"), 6
            ).alias("fertility"),
            fround(
                F.sum("n_chars").cast("double") / F.sum("bpe"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


_DOREMI_ETA = 1.0  # exponentiated-gradient step size


@query(
    "sample_doremi_weights",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE tok <> '' GROUP BY 1, 2
    ),
    ctf AS (
      SELECT tok, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS t FROM ctf),
    nll AS (
      SELECT tok, CAST(floor(-ln(CAST(ctf AS DOUBLE) / t.t) * 1e6 + 0.5)
                       AS BIGINT) AS nll
      FROM ctf CROSS JOIN tot t
    ),
    per_src AS (
      SELECT f.source,
             CAST(sum(f.tf) AS BIGINT) AS t_s,
             CAST(sum(f.tf * n.nll) AS BIGINT) AS nll_sum
      FROM tf f JOIN nll n ON n.tok = f.tok
      GROUP BY f.source
    ),
    corpus AS (
      SELECT CAST(sum(t_s) AS BIGINT) AS t,
             CAST(sum(nll_sum) // sum(t_s) AS BIGINT) AS l_c
      FROM per_src
    ),
    scored AS (
      SELECT p.source,
             p.t_s * 1000000 // c.t AS base_share_q,
             p.nll_sum // p.t_s AS l_s,
             CAST(floor(exp({_DOREMI_ETA}
                     * (p.nll_sum // p.t_s - c.l_c) / 1e6) * 1e6 + 0.5)
                  AS BIGINT) AS tilt_q
      FROM per_src p CROSS JOIN corpus c
    ),
    numer AS (
      SELECT source, base_share_q, l_s AS surprisal_q, tilt_q,
             base_share_q * tilt_q // 1000000 AS num
      FROM scored
    )
    SELECT source, base_share_q, surprisal_q, tilt_q,
           CAST(num * 1000000 // (SELECT sum(num) FROM numer) AS BIGINT)
             AS new_share_q
    FROM numer ORDER BY source
    """,
)
def sample_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, public
    method), one exponentiated-gradient step: domains whose data is
    HARDER under the reference model (here: per-source mean token
    surprisal under the corpus unigram LM, the DSIR-grade proxy) get
    upweighted multiplicatively — w'_s ∝ w_s · exp(η·(L_s − L̄)) —
    then renormalized. Output per source: the base (token-mass) share,
    the surprisal in integer micro-nats, the exp tilt (quantized),
    and the renormalized new share.

    Cross-engine determinism: per-token NLL is quantized to integer
    micro-nats BEFORE the tf-weighted sum (the perplexity-filter
    discipline); per-source folds are integer; the renormalization
    denominator is a sum of INTEGER numerators (never a float
    reduction across domains); every division is integer floor-div.

    100 TB: two token-keyed aggregates (tf, ctf — vocabulary
    exchange), one broadcast of the 1-row total, one source-keyed
    fold; the EG step itself is arithmetic on |domains| rows. The
    full DoReMi trains a proxy model per round — this is the
    weight-update operator that consumes any such per-domain loss.

    Ref cite: none — /root/reference has no sampling surface."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)  # ctf + per-source fold
    )
    ctf = tf.groupBy("tok").agg(F.sum("tf").cast("bigint").alias("ctf"))
    tot = ctf.agg(F.sum("ctf").cast("bigint").alias("t"))
    nll = ctf.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(-F.log(F.col("ctf").cast("double") / F.col("t")) * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("nll"),
    )
    per_src = (
        tf.join(nll, "tok")
        .groupBy("source")
        .agg(
            F.sum("tf").cast("bigint").alias("t_s"),
            F.sum(F.col("tf") * F.col("nll")).cast("bigint").alias("nll_sum"),
        )
        .localCheckpoint(eager=False)  # corpus fold + scored rows
    )
    corpus = per_src.agg(
        F.sum("t_s").cast("bigint").alias("t"),
        F.expr("sum(nll_sum) DIV sum(t_s)").cast("bigint").alias("l_c"),
    )
    l_s = F.expr("nll_sum DIV t_s")
    scored = per_src.crossJoin(F.broadcast(corpus)).select(
        "source",
        F.expr("t_s * 1000000 DIV t").cast("bigint").alias("base_share_q"),
        l_s.cast("bigint").alias("surprisal_q"),
        F.floor(
            F.exp(F.lit(_DOREMI_ETA) * (l_s - F.col("l_c")) / F.lit(1e6))
            * 1e6
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("tilt_q"),
    )
    numer = scored.withColumn(
        "num", F.expr("base_share_q * tilt_q DIV 1000000").cast("bigint")
    )
    den = numer.agg(F.sum("num").cast("bigint").alias("den"))
    return (
        numer.crossJoin(F.broadcast(den))
        .select(
            "source",
            "base_share_q",
            "surprisal_q",
            "tilt_q",
            F.expr("num * 1000000 DIV den").cast("bigint").alias("new_share_q"),
        )
        .orderBy("source")
    )


_TR_D_NUM, _TR_D_DEN = 85, 100  # damping d = 0.85
_TR_ITERS = 2


def _tr_iter_sql(prev: str, this: str) -> str:
    # ws'(v) = (1-d)·1e6 + Σ_u (d·w_uv·ws(u)) DIV out_u — every edge
    # term floor-divided to an integer BEFORE the sum
    return f"""
    {this} AS MATERIALIZED (
      SELECT e.v AS word,
             CAST(150000 + sum(({_TR_D_NUM} * e.w * p.ws)
                               // ({_TR_D_DEN} * o.outw)) AS BIGINT) AS ws
      FROM e
      JOIN {prev} p ON p.word = e.u
      JOIN outw o ON o.u = e.u
      GROUP BY e.v
    )"""


@query(
    "text_keyphrase_textrank",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, w[CAST(r.i AS BIGINT)] AS tok, r.i AS p
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents),
           UNNEST(range(1, len(w) + 1)) AS r(i)
      WHERE w[CAST(r.i AS BIGINT)] <> ''
    ),
    co AS (
      SELECT a.tok AS u, b.tok AS v, CAST(count(*) AS BIGINT) AS w
      FROM pos a JOIN pos b
        ON b.doc_id = a.doc_id AND b.p > a.p AND b.p <= a.p + 2
       AND a.tok <> b.tok
      GROUP BY 1, 2
    ),
    e AS MATERIALIZED (
      SELECT u, v, w FROM co
      UNION ALL SELECT v, u, w FROM co
    ),
    outw AS (SELECT u, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY u),
    p0 AS MATERIALIZED (
      SELECT DISTINCT u AS word, CAST(1000000 AS BIGINT) AS ws FROM e
    ),
    {",".join(_tr_iter_sql(f'p{i}', f'p{i + 1}') for i in range(_TR_ITERS))}
    SELECT word, ws AS score_q
    FROM p{_TR_ITERS} ORDER BY ws DESC, word LIMIT 10
    """,
)
def text_keyphrase_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, public
    method): build the word co-occurrence graph (±2 token window,
    corpus-pooled weights), run the weighted-PageRank recurrence
    ws'(v) = (1−d) + d·Σ w_uv/out_u·ws(u) for two synchronous
    iterations with scores QUANTIZED to integer micro-units between
    rounds (the Bradley–Terry/graph_pagerank discipline — per-edge
    terms floor-divided to integers before every sum, so no float
    reduction exists), and emit the top-10 keywords by final score via
    TakeOrdered — deliberately NOT a rank window, so the vocabulary
    never sorts in one task (the open-domain rule).

    RAKE (llmdata25) scores phrases by degree/frequency counts;
    TextRank is the recursive-centrality alternative the same
    pipelines use when stopword boundaries are unreliable — having
    both lets the datacard compare keyword stability across methods.

    100 TB: co-occurrence folds map-side to |V|² bounded pairs (real
    corpora: pruned by min-count before the fold — the bigram-LM
    shape); each iteration is one edge⋈score join + v-keyed aggregate
    (score table is vocabulary-sized, broadcastable); the final top-k
    is TakeOrderedAndProject.

    Ref cite: none — /root/reference has no text surface."""
    d = table(spark, sf_dir, "documents")
    pos = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ")).alias("p", "tok"),
        )
        .filter(F.col("tok") != "")
        .localCheckpoint(eager=False)  # both co-occurrence sides
    )
    a = pos.select("doc_id", F.col("p").alias("pa"), F.col("tok").alias("u"))
    b = pos.select("doc_id", F.col("p").alias("pb"), F.col("tok").alias("v"))
    co = (
        a.join(b, "doc_id")
        .where(
            (F.col("pb") > F.col("pa"))
            & (F.col("pb") <= F.col("pa") + 2)
            & (F.col("u") != F.col("v"))
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    e = co.unionByName(
        co.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint(eager=False)  # outw + every iteration
    outw = e.groupBy("u").agg(F.sum("w").cast("bigint").alias("outw"))
    ws = e.select("u").distinct().select(
        F.col("u").alias("word"), F.lit(1_000_000).cast("bigint").alias("ws")
    )

    def step(ws: DataFrame) -> DataFrame:
        return (
            e.join(ws.select(F.col("word").alias("u"), "ws"), "u")
            .join(outw, "u")
            .groupBy(F.col("v").alias("word"))
            .agg(
                (
                    F.lit(150_000)
                    + F.sum(
                        F.expr(
                            f"({_TR_D_NUM} * w * ws) DIV ({_TR_D_DEN} * outw)"
                        )
                    )
                )
                .cast("bigint")
                .alias("ws")
            )
        )

    ws = rounds(ws, step, _TR_ITERS)[-1]
    return ws.select("word", F.col("ws").alias("score_q")).orderBy(
        F.desc("score_q"), "word"
    ).limit(10)


_LOGIT_ITERS = 2


@query(
    "ml_logistic_newton2",
    oracle=f"""
    WITH obs AS (
      SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
             CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS x
      FROM events WHERE value IS NOT NULL
    ),
    it0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS b0q,
                                CAST(0 AS BIGINT) AS b1q),
    {",".join(newton_logit_sql(f'it{i}', f'it{i + 1}', 'o.y * 1000000') for i in range(_LOGIT_ITERS))}
    SELECT CAST((SELECT count(*) FROM obs) AS BIGINT) AS n,
           b.b0q AS b0_q, b.b1q AS b1_q,
           CAST((
             SELECT sum(CAST(floor(
               (o.y * ln(least(greatest(
                  1.0 / (1.0 + exp(-(b.b0q + b.b1q * o.x) / 1e6)),
                  1e-6), 1.0 - 1e-6))
                + (1 - o.y) * ln(1.0 - least(greatest(
                  1.0 / (1.0 + exp(-(b.b0q + b.b1q * o.x) / 1e6)),
                  1e-6), 1.0 - 1e-6))) * 1e6) AS BIGINT))
             FROM obs o) AS BIGINT) AS ll_q
    FROM it{_LOGIT_ITERS} b
    """,
)
def ml_logistic_newton2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained IN THE ENGINE: two Newton–Raphson
    (IRLS) steps for P(error | value) with one feature + intercept —
    the canonical convex-training shape a data platform runs without
    exporting to a modeling stack. Cross-engine exactness comes from
    the OLS-by-Cramer discipline extended to an iterative fit: per-row
    probabilities quantize to integer micro-units BEFORE the moment
    sums (gradient g and curvature H fold as exact integers; the
    curvature weight p(1−p) is derived from the QUANTIZED p by integer
    arithmetic, never re-floated), the 2×2 Newton solve is one fixed
    Cramer expression, and parameters re-quantize between iterations —
    so both engines iterate on identical integers, like Bradley–Terry.
    Output: n, the fitted (intercept, slope) in micro-units, and the
    final log-likelihood in integer micro-nats.

    100 TB: each iteration is ONE map-side-combinable aggregate over
    the scan (5 integer sums), a 1-row broadcast of params back — the
    distributed-IRLS shape; iterations are bounded (production runs to
    a convergence action on |Δβ|, the suffix-doubling pattern).

    Ref cite: none — /root/reference computes no statistics
    (metrics.go:8-75); §2.3 ML territory."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    obs = e.select(
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("y"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) DIV 100").alias("x"),
    ).localCheckpoint(eager=False)  # 2 iterations + n + ll reuse it
    params = newton_logit(obs, F.col("y") * 1_000_000, _LOGIT_ITERS)
    z = (F.col("b0q") + F.col("b1q") * F.col("x")) / F.lit(1e6)
    p = F.least(
        F.greatest(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), F.lit(1e-6)),
        F.lit(1.0 - 1e-6),
    )
    ll_term = F.floor(
        (F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(F.lit(1.0) - p))
        * 1e6
    ).cast("bigint")
    n_row = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ll = (
        obs.crossJoin(F.broadcast(params))
        .agg(F.sum(ll_term).cast("bigint").alias("ll_q"))
    )
    return (
        n_row.crossJoin(F.broadcast(params))
        .crossJoin(F.broadcast(ll))
        .select(
            "n",
            F.col("b0q").alias("b0_q"),
            F.col("b1q").alias("b1_q"),
            "ll_q",
        )
    )
