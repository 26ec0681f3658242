"""Round 13 batch 3: Breslow–Day homogeneity, context-length packing
sweep, audio chord fingerprint near-dups, keep-best dedup action,
nDCG/MRR retrieval eval, ClickHouse uniqUpTo/topK parity.

Chains this batch closes: stats_breslow_day is the homogeneity test
that must accompany stats_mantel_haenszel's common OR (pooling is only
licensed when BD fails to reject); dedup_cluster_keep_best upgrades
dedup_minhash_clusters_cc's min-id keeper to the quality-argmax keep
policy real curation uses; pack_context_length_sweep extends
pack_padding_efficiency's single bucket ladder to the context-length
decision table; audio_fingerprint_hamming_pairs gives the AUDIO lane
the banded near-dup pairs the image lane got in batch 1 — over REAL
RIFF/WAVE chords with an arithmetically-predicted oracle
(multimodal_audio_features discipline); eval_ndcg_mrr_at_k adds the
standard retrieval-eval battery (nDCG@10 / MRR@10 / P@10 / R@10) the
similarity family lacked; clickhouse_uniq_upto_topk adds uniqUpTo and
deterministic topK parity.

Ref cite: none — /root/reference (main.go:1-145, query.go:1-289,
metrics.go:1-75) has none of these surfaces; §2.3 territory. Methods
public: Breslow & Day 1980 / Tarone 1985, Haitsma & Kalker 2002
(band-energy fingerprint), Järvelin & Kekäläinen 2002 (nDCG),
ClickHouse docs (uniqUpTo, topK).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import fan_out, fround, query, table

# --- Breslow-Day homogeneity of odds ratios ----------------------------------

_BD_CELLS_SQL = """
    base AS (
      SELECT o.o_orderpriority AS stratum,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS e,
             CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cen AS (
      SELECT stratum, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM base GROUP BY 1, 2
    ),
    tot AS (SELECT stratum, CAST(sum(cnt) AS BIGINT) AS n FROM cen
            GROUP BY stratum),
    cut AS (
      SELECT stratum, CAST(min(cents) AS BIGINT) AS p50 FROM (
        SELECT c.stratum, c.cents, t.n,
               CAST(sum(c.cnt) OVER (PARTITION BY c.stratum ORDER BY c.cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM cen c JOIN tot t USING (stratum)
      ) WHERE 2 * cum >= n GROUP BY stratum
    ),
    cells AS MATERIALIZED (
      SELECT b.stratum,
             CAST(sum(CASE WHEN e = 1 AND cents > p50 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN e = 1 AND cents <= p50 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_,
             CAST(sum(CASE WHEN e = 0 AND cents > p50 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_,
             CAST(sum(CASE WHEN e = 0 AND cents <= p50 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM base b JOIN cut USING (stratum)
      GROUP BY b.stratum
    ),
    psi AS MATERIALIZED (
      SELECT floor(CAST(sum(CAST(floor(CAST(a AS DOUBLE) * d
                                       / (a + b_ + c_ + d) * 1e9 + 0.5)
                                 AS BIGINT)) AS DOUBLE)
                   / sum(CAST(floor(CAST(b_ AS DOUBLE) * c_
                                    / (a + b_ + c_ + d) * 1e9 + 0.5)
                              AS BIGINT)) * 1e9 + 0.5) / 1e9 AS p
      FROM cells
    )"""


_BD_ORACLE = f"""
    WITH {_BD_CELLS_SQL},
    fitted AS (
      SELECT stratum, a,
             CASE WHEN abs(p - 1.0) < 1e-12 THEN
               CAST(a + b_ AS DOUBLE) * (a + c_) / (a + b_ + c_ + d)
             ELSE
               CASE WHEN
                 (-bq - sqrt(bq * bq - 4 * aq * cq)) / (2 * aq)
                   >= greatest(0.0, CAST((a + c_) - (c_ + d) AS DOUBLE))
                 AND (-bq - sqrt(bq * bq - 4 * aq * cq)) / (2 * aq)
                   <= least(CAST(a + b_ AS DOUBLE), CAST(a + c_ AS DOUBLE))
               THEN (-bq - sqrt(bq * bq - 4 * aq * cq)) / (2 * aq)
               ELSE (-bq + sqrt(bq * bq - 4 * aq * cq)) / (2 * aq)
               END
             END AS at,
             CAST(a + b_ AS DOUBLE) AS r1, CAST(c_ + d AS DOUBLE) AS r0,
             CAST(a + c_ AS DOUBLE) AS c1
      FROM (
        SELECT cells.*, psi.p,
               psi.p - 1.0 AS aq,
               -(psi.p * ((a + b_) + (a + c_)) + ((c_ + d) - (a + c_)))
                 AS bq,
               psi.p * (a + b_) * (a + c_) AS cq
        FROM cells CROSS JOIN psi
      )
    ),
    terms AS (
      SELECT stratum,
             CAST(floor((a - at) * (a - at)
                        * (1.0 / at + 1.0 / (r1 - at) + 1.0 / (c1 - at)
                           + 1.0 / (r0 - c1 + at)) * 1e6 + 0.5) AS BIGINT)
               AS t_q,
             CAST(floor((a - at) * 1e9 + 0.5) AS BIGINT) AS dev_q,
             CAST(floor(1.0 / (1.0 / at + 1.0 / (r1 - at) + 1.0 / (c1 - at)
                               + 1.0 / (r0 - c1 + at)) * 1e9 + 0.5)
                  AS BIGINT) AS var_q
      FROM fitted
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           (SELECT floor(p * 1e6 + 0.5) / 1e6 FROM psi) AS psi_mh,
           floor(CAST(sum(t_q) AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6
             AS chi2_bd,
           floor((CAST(sum(t_q) AS DOUBLE) / 1e6
                  - (CAST(sum(dev_q) AS DOUBLE) / 1e9)
                    * (CAST(sum(dev_q) AS DOUBLE) / 1e9)
                    / (CAST(sum(var_q) AS DOUBLE) / 1e9)) * 1e6 + 0.5) / 1e6
             AS chi2_tarone
    FROM terms
    """


@query("stats_breslow_day", oracle=_BD_ORACLE)
def stats_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow–Day homogeneity test (Breslow & Day 1980) with Tarone's
    correction (Tarone 1985) — the companion stats_mantel_haenszel
    requires: the common OR is only a licensed summary when BD fails to
    reject homogeneity across strata. Same cells (priority strata ×
    BUILDING exposure × discrete-median outcome); per stratum the
    fitted count ã solves the quadratic (ψ−1)ã² − [ψ(r1+c1)+(r0−c1)]ã
    + ψr1c1 = 0 (the root inside [max(0, c1−r0), min(r1, c1)] — the
    valid root is unique for ψ>0, selected by an identical CASE on
    both engines); χ²_BD = Σ(aᵢ−ãᵢ)²/Var(ãᵢ); Tarone subtracts
    (Σ(aᵢ−ãᵢ))²/ΣVar.

    Exactness: ψ folds 1e-9-quantized MH terms; each stratum's root +
    variance is one deterministic IEEE chain (the holt_winters
    bit-identical-chain discipline — same ops, same order, sqrt is
    correctly rounded); per-stratum χ² terms quantize at 1e-6 before
    the 5-row sum.

    100 TB: identical shape to stats_mantel_haenszel — everything
    after the stratum census is |strata|-bounded."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderpriority").alias("stratum"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("e"),
    )
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("stratum", "e", "cents")
        .localCheckpoint(eager=False)
    )
    cen = base.groupBy("stratum", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = cen.groupBy("stratum").agg(F.sum("cnt").cast("bigint").alias("n"))
    wcum = (
        Window.partitionBy("stratum")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cut = (
        cen.join(tot, "stratum")
        .select(
            "stratum", "cents", "n",
            F.sum("cnt").over(wcum).cast("bigint").alias("cum"),
        )
        .filter(2 * F.col("cum") >= F.col("n"))
        .groupBy("stratum")
        .agg(F.min("cents").cast("bigint").alias("p50"))
    )
    cells = (
        base.join(F.broadcast(cut), "stratum")
        .groupBy("stratum")
        .agg(
            F.sum(((F.col("e") == 1) & (F.col("cents") > F.col("p50"))).cast("int"))
            .cast("bigint").alias("a"),
            F.sum(((F.col("e") == 1) & (F.col("cents") <= F.col("p50"))).cast("int"))
            .cast("bigint").alias("b_"),
            F.sum(((F.col("e") == 0) & (F.col("cents") > F.col("p50"))).cast("int"))
            .cast("bigint").alias("c_"),
            F.sum(((F.col("e") == 0) & (F.col("cents") <= F.col("p50"))).cast("int"))
            .cast("bigint").alias("d"),
        )
        .localCheckpoint(eager=False)  # psi + fitted both read it
    )
    n_s = (F.col("a") + F.col("b_") + F.col("c_") + F.col("d")).cast("double")
    q9 = lambda col: F.floor(col * 1e9 + F.lit(0.5)).cast("bigint")  # noqa: E731
    psi = cells.agg(
        fround(
            F.sum(q9(F.col("a").cast("double") * F.col("d") / n_s)).cast("double")
            / F.sum(q9(F.col("b_").cast("double") * F.col("c_") / n_s)),
            9,
        ).alias("p")
    )
    r1 = (F.col("a") + F.col("b_")).cast("double")
    r0 = (F.col("c_") + F.col("d")).cast("double")
    c1 = (F.col("a") + F.col("c_")).cast("double")
    aq = F.col("p") - 1.0
    bq = -(F.col("p") * (r1 + c1) + (r0 - c1))
    cq = F.col("p") * r1 * c1
    disc = F.sqrt(bq * bq - 4 * aq * cq)
    root_m = (-bq - disc) / (2 * aq)
    root_p = (-bq + disc) / (2 * aq)
    lo = F.greatest(F.lit(0.0), c1 - r0)
    hi = F.least(r1, c1)
    at = F.when(
        F.abs(F.col("p") - 1.0) < 1e-12, r1 * c1 / n_s
    ).otherwise(
        F.when((root_m >= lo) & (root_m <= hi), root_m).otherwise(root_p)
    )
    fitted = cells.crossJoin(F.broadcast(psi)).select(
        "a",
        at.alias("at"),
        r1.alias("r1"),
        r0.alias("r0"),
        c1.alias("c1"),
        "p",
    )
    inv_var = (
        1.0 / F.col("at")
        + 1.0 / (F.col("r1") - F.col("at"))
        + 1.0 / (F.col("c1") - F.col("at"))
        + 1.0 / (F.col("r0") - F.col("c1") + F.col("at"))
    )
    dev = F.col("a") - F.col("at")
    terms = fitted.select(
        "p",
        F.floor(dev * dev * inv_var * 1e6 + F.lit(0.5)).cast("bigint").alias("t_q"),
        q9(dev).alias("dev_q"),
        q9(1.0 / inv_var).alias("var_q"),
    )
    sd = F.sum("dev_q").cast("double") / 1e9
    sv = F.sum("var_q").cast("double") / 1e9
    st = F.sum("t_q").cast("double") / 1e6
    return terms.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        fround(F.max("p"), 6).alias("psi_mh"),
        fround(st, 6).alias("chi2_bd"),
        fround(st - sd * sd / sv, 6).alias("chi2_tarone"),
    )


# --- context-length packing sweep --------------------------------------------

_CTX_ORACLE = """
    WITH toks AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    sweep AS (
      SELECT l.ctx, n_tok,
             CAST(ceil(CAST(n_tok AS DOUBLE) / l.ctx) AS BIGINT) AS chunks,
             least(n_tok, l.ctx) AS kept1
      FROM toks, (SELECT unnest([256, 512, 1024, 2048]) AS ctx) l
    )
    SELECT CAST(ctx AS INT) AS ctx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS real_tokens,
           CAST(sum(chunks * ctx) AS BIGINT) AS padded_tokens,
           floor((1.0 - CAST(sum(n_tok) AS DOUBLE) / sum(chunks * ctx))
                 * 1e6 + 0.5) / 1e6 AS pad_waste,
           CAST(sum(n_tok - kept1) AS BIGINT) AS trunc1_loss_tokens,
           floor(CAST(sum(n_tok - kept1) AS DOUBLE) / sum(n_tok)
                 * 1e6 + 0.5) / 1e6 AS trunc1_loss_ratio,
           CAST(sum(CASE WHEN chunks > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_split
    FROM sweep GROUP BY ctx ORDER BY ctx
    """


@query("pack_context_length_sweep", oracle=_CTX_ORACLE)
def pack_context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length decision table: for each candidate context length
    L ∈ {256, 512, 1024, 2048}, the corpus-wide cost of the two
    canonical policies — CHUNK (ceil(n/L) contexts per doc: padded
    tokens and padding waste) and TRUNCATE-TO-ONE (tokens lost past L
    and the loss ratio) — plus how many documents split at all. This is
    the table a training run consults before fixing max_seq_len;
    pack_padding_efficiency gives the bucketed view at one L,
    pack_sequences_blocks the concatenation alternative.

    Exactness: all counts integer; the two ratios fround 1e-6.

    100 TB: token counts are scan-stage; the 4-way ladder explodes a
    SINGLE bigint per doc (not text); one O(4)-group aggregate."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    sweep = d.select(n_tok.alias("n_tok")).select(
        "n_tok",
        F.explode(F.array(*[F.lit(x) for x in (256, 512, 1024, 2048)])).alias(
            "ctx"
        ),
    ).select(
        "ctx",
        "n_tok",
        F.ceil(F.col("n_tok").cast("double") / F.col("ctx"))
        .cast("bigint")
        .alias("chunks"),
        F.least(F.col("n_tok"), F.col("ctx").cast("bigint")).alias("kept1"),
    )
    return (
        sweep.groupBy(F.col("ctx").cast("int").alias("ctx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
            F.sum(F.col("chunks") * F.col("ctx")).cast("bigint").alias(
                "padded_tokens"
            ),
            fround(
                1.0
                - F.sum("n_tok").cast("double")
                / F.sum(F.col("chunks") * F.col("ctx")),
                6,
            ).alias("pad_waste"),
            F.sum(F.col("n_tok") - F.col("kept1")).cast("bigint").alias(
                "trunc1_loss_tokens"
            ),
            fround(
                F.sum(F.col("n_tok") - F.col("kept1")).cast("double")
                / F.sum("n_tok"),
                6,
            ).alias("trunc1_loss_ratio"),
            F.sum((F.col("chunks") > 1).cast("int")).cast("bigint").alias(
                "n_docs_split"
            ),
        )
        .orderBy("ctx")
    )


# --- audio chord fingerprint near-dup pairs ----------------------------------

_N_CLIPS = 64
_AF_TAU = 1

_AF_ORACLE = f"""
    WITH clips AS (
      SELECT clip_id, bid, dj FROM (
        SELECT doc_id AS clip_id, doc_id AS bid, -1 AS dj
        FROM documents WHERE doc_id < {_N_CLIPS}
        UNION ALL
        SELECT doc_id + 100, doc_id, CAST(doc_id % 4 AS INT)
        FROM documents WHERE doc_id < {_N_CLIPS}
      )
    ),
    partials AS (
      SELECT c.clip_id, j.j,
             (c.bid * CASE j.j WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 9
                               ELSE 27 END + 7 * j.j
              + (c.bid // 16) * CASE j.j WHEN 0 THEN 1 WHEN 1 THEN 5
                                         WHEN 2 THEN 25 ELSE 125 END) % 16
               AS band
      FROM clips c, range(4) j(j)
      WHERE j.j <> c.dj
    ),
    fp AS MATERIALIZED (
      SELECT clip_id,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(band AS INT)) AS BIGINT)
               AS fingerprint
      FROM partials GROUP BY clip_id
    ),
    bands AS (
      SELECT clip_id, CAST(b.b AS INT) AS band,
             (fingerprint >> CAST(8 * b.b AS INT)) & 255 AS bv
      FROM fp, range(2) b(b)
    ),
    cand AS (
      SELECT DISTINCT a.clip_id AS clip_a, c.clip_id AS clip_b
      FROM bands a JOIN bands c
        ON a.band = c.band AND a.bv = c.bv AND a.clip_id < c.clip_id
    )
    SELECT CAST(cand.clip_a AS BIGINT) AS clip_a,
           CAST(cand.clip_b AS BIGINT) AS clip_b,
           CAST(bit_count(xor(fa.fingerprint, fb.fingerprint)) AS BIGINT)
             AS hamming
    FROM cand
    JOIN fp fa ON fa.clip_id = cand.clip_a
    JOIN fp fb ON fb.clip_id = cand.clip_b
    WHERE bit_count(xor(fa.fingerprint, fb.fingerprint)) <= {_AF_TAU}
    ORDER BY clip_a, clip_b
    """


@query("audio_fingerprint_hamming_pairs", oracle=_AF_ORACLE)
def audio_fingerprint_hamming_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-duplicate pairs over REAL RIFF/WAVE chords — the
    audio lane's twin of image_phash_hamming_pairs: each clip is a
    4-partial chord at exact FFT bins (multimodal.synth_wav_chord),
    its twin drops one stem; the 16-band spectral fingerprint
    (Haitsma–Kalker band-energy threshold bits,
    multimodal.fingerprint_wav_bands) is computed by REAL DSP — RIFF
    parse → rfft → band energies — while the oracle PREDICTS every
    fingerprint arithmetically (exact-bin sines leak zero energy, so
    bit b ⇔ a partial lands in band b — the multimodal_audio_features
    discipline: any header/PCM/FFT bug diverges the hash). A dropped
    stem moves the fingerprint by EXACTLY one bit (zero when another
    partial shares the band), so τ = 1 with 2×8-bit bands is
    pigeonhole-exact and captures every twin while keeping unrelated
    chords (4 bits set in 16) overwhelmingly outside; verification is
    exact bit_count(xor).

    100 TB: synth/decode are scan-stage mapInPandas; only the 16-bit
    fingerprint ever shuffles; the banded self-join meets same-bucket
    fingerprints only."""
    from ..operators.multimodal import fingerprint_wav_bands, synth_wav_chord

    base = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _N_CLIPS
    )
    clips = base.select(
        F.col("doc_id").alias("clip_id"),
        F.col("doc_id").alias("base_id"),
        F.lit(-1).alias("drop_j"),
    ).unionByName(
        base.select(
            (F.col("doc_id") + 100).alias("clip_id"),
            F.col("doc_id").alias("base_id"),
            (F.col("doc_id") % 4).cast("int").alias("drop_j"),
        )
    )
    wav = synth_wav_chord(
        clips.select(
            "clip_id", F.col("base_id").alias("chord_of"), "drop_j"
        ).withColumnRenamed("chord_of", "clip_base"),
        id_col="clip_base",
        drop_col="drop_j",
    )
    fp = (
        fingerprint_wav_bands(wav)
        .select("clip_id", "fingerprint")
        .localCheckpoint(eager=False)  # bands + both verify sides
    )
    bands = fp.select(
        "clip_id",
        "fingerprint",
        F.explode(F.array(*[F.lit(b) for b in range(2)])).alias("band"),
    ).select(
        "clip_id",
        "band",
        F.expr("(fingerprint >> CAST(8 * band AS INT)) & 255").alias("bv"),
    )
    a, c = bands.alias("a"), bands.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col("a.clip_id") < F.col("c.clip_id")),
        )
        .select(
            F.col("a.clip_id").alias("clip_a"),
            F.col("c.clip_id").alias("clip_b"),
        )
        .distinct()
    )
    fa = fp.select(F.col("clip_id").alias("clip_a"), F.col("fingerprint").alias("f_a"))
    fb = fp.select(F.col("clip_id").alias("clip_b"), F.col("fingerprint").alias("f_b"))
    return (
        cand.join(fa, "clip_a")
        .join(fb, "clip_b")
        .select(
            F.col("clip_a").cast("bigint").alias("clip_a"),
            F.col("clip_b").cast("bigint").alias("clip_b"),
            F.bit_count(F.col("f_a").bitwiseXOR(F.col("f_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _AF_TAU)
        .orderBy("clip_a", "clip_b")
    )


# --- keep-best dedup action ---------------------------------------------------

def _keep_best_oracle() -> str:
    from .llmdata28 import _CC_ROUNDS, _LSH_PAIRS_SQL, _cc_round

    rounds = ",".join(_cc_round(f"c{i}", f"c{i + 1}") for i in range(_CC_ROUNDS))
    return f"""
    WITH {_LSH_PAIRS_SQL},
    c0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
    {rounds},
    ntok AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    members AS MATERIALIZED (
      SELECT f.label AS cluster_id, f.id AS doc_id, t.n_tok,
             t.n_tok * 100000000 + (100000000 - 1 - f.id) AS pick
      FROM c{_CC_ROUNDS} f JOIN ntok t ON t.doc_id = f.id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(arg_max(doc_id, pick) AS BIGINT) AS keeper_id,
           CAST(max(n_tok) AS BIGINT) AS keeper_tokens,
           CAST(sum(n_tok) - max(n_tok) AS BIGINT) AS removed_tokens
    FROM members GROUP BY cluster_id ORDER BY cluster_id
    """


@query("dedup_cluster_keep_best", oracle=_keep_best_oracle())
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUALITY keep policy over near-dup clusters: where
    dedup_minhash_clusters_cc keeps min-doc_id, real curation keeps the
    BEST member — here longest-in-tokens, ties to the smaller id,
    packed into one integer argmax key (n_tok·1e8 + (1e8−1−doc_id);
    the single-integer rule both engines' arg_max binds — composite
    keys don't, per the repo's cross-engine discipline; bound: doc_id
    < 1e8, n_tok·1e8 < 9.2e18 up to n_tok ≈ 9e10). Same LSH pair
    edges, same min-label CC (fixpoint pinned by the cluster twin's
    tests); output adds the token ledger a curation run logs: kept vs
    removed token mass per cluster.

    100 TB: identical scale shape to dedup_minhash_clusters_cc plus
    one doc-keyed join for the quality score and an integer argmax."""
    from ..operators.dedup import min_label_rounds, minhash_lsh_dedup
    from .llmdata28 import _CC_ROUNDS

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
        .localCheckpoint(eager=False)
    )
    seed = e.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    lab = min_label_rounds(e, seed, _CC_ROUNDS)
    ntok = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    members = lab.join(ntok, "id").select(
        F.col("label").alias("cluster_id"),
        F.col("id").alias("doc_id"),
        "n_tok",
        (F.col("n_tok") * 100000000 + (100000000 - 1 - F.col("id"))).alias(
            "pick"
        ),
    )
    return (
        members.groupBy(F.col("cluster_id").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max_by("doc_id", "pick").cast("bigint").alias("keeper_id"),
            F.max("n_tok").cast("bigint").alias("keeper_tokens"),
            (F.sum("n_tok") - F.max("n_tok")).cast("bigint").alias(
                "removed_tokens"
            ),
        )
        .orderBy("cluster_id")
    )


# --- retrieval eval: nDCG@10 / MRR@10 / P@10 / R@10 ---------------------------

_NDCG_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                      embedding::DOUBLE[] AS qe
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id, label, embedding::DOUBLE[] AS ce FROM embeddings),
    scored AS (
      SELECT q.query_id, q.qlabel, c.vec_id, c.label,
             round(list_dot_product(q.qe, c.ce)
                   / (sqrt(list_dot_product(q.qe, q.qe))
                      * sqrt(list_dot_product(c.ce, c.ce))), 6) AS cosine
      FROM q CROSS JOIN c WHERE q.query_id <> c.vec_id
    ),
    ranked AS MATERIALIZED (
      SELECT query_id, qlabel, vec_id, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    ),
    nrel AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
      FROM ranked WHERE label = qlabel GROUP BY query_id
    ),
    top10 AS (
      SELECT query_id,
             CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
               AS hits10,
             CAST(sum(CASE WHEN label = qlabel THEN
               CAST(floor(1e9 / log2(rk + 1) + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS dcg_q,
             CAST(min(CASE WHEN label = qlabel THEN rk END) AS BIGINT)
               AS first_rel
      FROM ranked WHERE rk <= 10 GROUP BY query_id
    ),
    ideal AS (
      SELECT n.query_id,
             CAST(sum(CAST(floor(1e9 / log2(i.i + 1) + 0.5) AS BIGINT))
                  AS BIGINT) AS idcg_q
      FROM nrel n, range(1, 11) i(i)
      WHERE i.i <= least(n.n_rel, 10)
      GROUP BY n.query_id
    )
    SELECT n.query_id, n.n_rel, t.hits10,
           floor(CAST(t.hits10 AS DOUBLE) / 10 * 1e6 + 0.5) / 1e6 AS p_at_10,
           floor(CAST(t.hits10 AS DOUBLE) / n.n_rel * 1e6 + 0.5) / 1e6
             AS r_at_10,
           CASE WHEN t.first_rel IS NOT NULL THEN
             floor(1.0 / t.first_rel * 1e6 + 0.5) / 1e6
           ELSE 0.0 END AS mrr_at_10,
           floor(CAST(t.dcg_q AS DOUBLE) / i.idcg_q * 1e6 + 0.5) / 1e6
             AS ndcg_at_10
    FROM nrel n JOIN top10 t USING (query_id) JOIN ideal i USING (query_id)
    ORDER BY query_id
    """


@query("eval_ndcg_mrr_at_k", oracle=_NDCG_ORACLE)
def eval_ndcg_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-eval battery (Järvelin & Kekäläinen 2002) for the
    similarity lane: queries = the 8 ANN probe vectors, ranking = exact
    cosine (round-6 quantized, ties on vec_id — the
    similarity_cosine_topk ordering), relevance = shared label (the
    embedding table's cluster identity). Per query: n_rel, hits@10,
    P@10, R@10, MRR@10 (0 when no relevant in the top 10 — the
    standard cutoff convention), nDCG@10 with binary gains (DCG terms
    1/log2(rank+1) quantized to 1e-9 integers before the fold; IDCG
    over min(n_rel, 10) ideal positions).

    100 TB: queries broadcast against the corpus scan (the brute-force
    rung's shape); per-query windows partition by query_id — bounded;
    the metric arithmetic runs on ≤ 8×10 rows.

    Ref cite: none — §2.3 eval territory."""
    emb = table(spark, sf_dir, "embeddings").localCheckpoint(eager=False)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", "label", as_double.alias("ce"))
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        as_double.alias("qe"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
        )

    scored = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        F.round(
            dot(F.col("qe"), F.col("ce"))
            / (
                F.sqrt(dot(F.col("qe"), F.col("qe")))
                * F.sqrt(dot(F.col("ce"), F.col("ce")))
            ),
            6,
        ).alias("cosine"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    ranked = scored.select(
        "query_id",
        "qlabel",
        "label",
        F.row_number().over(wq).alias("rk"),
    ).localCheckpoint(eager=False)  # n_rel + top10 both read it
    rel = F.col("label") == F.col("qlabel")
    nrel = ranked.filter(rel).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel")
    )
    top10 = (
        ranked.filter(F.col("rk") <= 10)
        .groupBy("query_id")
        .agg(
            F.sum(rel.cast("int")).cast("bigint").alias("hits10"),
            F.sum(
                F.when(
                    rel,
                    F.floor(1e9 / F.log2(F.col("rk") + 1) + F.lit(0.5)).cast(
                        "bigint"
                    ),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("dcg_q"),
            F.min(F.when(rel, F.col("rk"))).cast("bigint").alias("first_rel"),
        )
    )
    ideal = (
        nrel.select(
            "query_id",
            F.explode(F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(10))))
            .alias("i"),
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.floor(1e9 / F.log2(F.col("i") + 1) + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("idcg_q")
        )
    )
    return (
        nrel.join(top10, "query_id")
        .join(ideal, "query_id")
        .select(
            "query_id",
            "n_rel",
            "hits10",
            fround(F.col("hits10").cast("double") / 10, 6).alias("p_at_10"),
            fround(F.col("hits10").cast("double") / F.col("n_rel"), 6).alias(
                "r_at_10"
            ),
            F.when(
                F.col("first_rel").isNotNull(),
                fround(F.lit(1.0) / F.col("first_rel"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("mrr_at_10"),
            fround(
                F.col("dcg_q").cast("double") / F.col("idcg_q"), 6
            ).alias("ndcg_at_10"),
        )
        .orderBy("query_id")
    )


# --- ClickHouse uniqUpTo + deterministic topK ---------------------------------

_UNIQ_ORACLE = """
    WITH ev AS (
      SELECT event_type, user_id,
             least(9, greatest(0, CAST(floor(value) AS BIGINT))) AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    uniq AS (
      SELECT event_type,
             CAST(least(count(DISTINCT user_id), 9) AS BIGINT) AS uniq_upto_8
      FROM ev GROUP BY event_type
    ),
    bc AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM ev GROUP BY 1, 2
    ),
    topk AS (
      SELECT event_type,
             max(CASE WHEN rk = 1 THEN bucket END) AS top1_bucket,
             max(CASE WHEN rk = 2 THEN bucket END) AS top2_bucket,
             max(CASE WHEN rk = 3 THEN bucket END) AS top3_bucket
      FROM (
        SELECT event_type, bucket,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, bucket) AS rk
        FROM bc
      ) WHERE rk <= 3 GROUP BY event_type
    )
    SELECT u.event_type, u.uniq_upto_8,
           t.top1_bucket, t.top2_bucket, t.top3_bucket
    FROM uniq u JOIN topk t USING (event_type)
    ORDER BY u.event_type
    """


@query("clickhouse_uniq_upto_topk", oracle=_UNIQ_ORACLE)
def clickhouse_uniq_upto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse uniqUpTo(8) + deterministic topK(3) parity per event
    type: uniqUpTo returns the EXACT distinct count while it is ≤ 8 and
    saturates at 9 ("more than 8") — the bounded-memory cardinality
    gate ClickHouse uses for "show exact counts up to N"; topK(3)
    returns the 3 heaviest value buckets as three scalar columns
    (top1/top2/top3, NULL when a type has fewer than 3 buckets) with
    the deterministic (count DESC, bucket) tie-break (ClickHouse's
    topK is a SpaceSaving sketch; at this group cardinality the exact
    answer IS the sketch's guarantee, and
    streaming_heavyhitters_fidelity covers the bounded-memory
    variant). Scalar columns, not an ARRAY: declared outputs must be
    flat so any downstream row canonicalizer can sort them (r13
    verdict item 1 — an array-typed final column is unverifiable).

    100 TB: uniqUpTo's production form keeps ≤ N+1 keys per group (the
    saturating property is the point); here both halves are two-level
    hash aggregates over (type, key) then type — map-side combinable.

    Ref cite: none — §2.3 ClickHouse parity (uniqUpTo / topK docs)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "user_id",
            F.least(
                F.lit(9), F.greatest(F.lit(0), F.floor("value").cast("bigint"))
            ).alias("bucket"),
        )
        .localCheckpoint(eager=False)  # uniq + bucket census
    )
    uniq = ev.groupBy("event_type").agg(
        F.least(F.countDistinct("user_id"), F.lit(9))
        .cast("bigint")
        .alias("uniq_upto_8")
    )
    bc = ev.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wt = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("bucket")
    )
    topk = (
        bc.select("event_type", "bucket", F.row_number().over(wt).alias("rk"))
        .filter(F.col("rk") <= 3)
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("bucket"))).alias(
                "top1_bucket"
            ),
            F.max(F.when(F.col("rk") == 2, F.col("bucket"))).alias(
                "top2_bucket"
            ),
            F.max(F.when(F.col("rk") == 3, F.col("bucket"))).alias(
                "top3_bucket"
            ),
        )
    )
    return uniq.join(topk, "event_type").orderBy("event_type")


# --- streaming deltaSum fidelity twin ----------------------------------------

_SEQ_FILTER = "value IS NOT NULL AND event_id % 16 = 0"

_SDELTA_ORACLE = f"""
    WITH pts AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v, ts, event_id
      FROM events WHERE {_SEQ_FILTER}
    ),
    lagged AS (
      SELECT event_type, v,
             lag(v) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS pv
      FROM pts
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pv IS NOT NULL AND v > pv
                    THEN v - pv ELSE 0 END) AS BIGINT) AS delta_sum_cents,
           CAST(sum(CASE WHEN pv IS NOT NULL AND v < pv
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_drops
    FROM lagged GROUP BY event_type ORDER BY event_type
    """


@query("streaming_delta_sum_fidelity", oracle=_SDELTA_ORACLE)
def streaming_delta_sum_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the REAL streaming deltaSum monitor
    (streaming/sequential.delta_sum_stream: integer-cents positive-delta
    accumulator + one boundary cent of applyInPandasWithState state,
    the runs/acf1 order-sensitive family) over the shared ordered
    corpus and value-hash-matches each type's final (n, deltaSum,
    drops) against the batch lag-window recomputation — the streaming
    twin of clickhouse_delta_sum_moving, certifying that the
    cross-batch boundary stitch reproduces the batch counter semantics
    exactly. Same %16 subsample and corpus as the sequential fidelity
    family (one cached corpus serves all four monitors)."""
    from ..streaming.sequential import delta_sum_stream
    from .llmdata11 import _sequential_fidelity

    return _sequential_fidelity(
        spark,
        sf_dir,
        delta_sum_stream,
        "event_type string, n bigint, delta_sum_cents bigint, n_drops bigint",
    )


# --- video luma-signature near-dup pairs -------------------------------------

_N_VIDS = 64
_VID_THR = 10  # per-(pixel, frame) mean |delta sum_y| bound

_VID_ORACLE = f"""
    WITH clips AS (
      SELECT clip_id, bid, shift FROM (
        SELECT doc_id AS clip_id, doc_id AS bid, 0 AS shift
        FROM documents WHERE doc_id < {_N_VIDS}
        UNION ALL
        SELECT doc_id + 100, doc_id, 4
        FROM documents WHERE doc_id < {_N_VIDS}
      )
    ),
    dims AS (
      SELECT clip_id, bid, shift,
             16 + (bid % 8) * 2 AS w, 8 + (bid % 6) * 2 AS h,
             3 + bid % 4 AS nf
      FROM clips
    ),
    px AS (
      SELECT d.clip_id, d.w, d.h, d.nf, t.t,
             CASE WHEN t.t < d.nf // 2
                  THEN (5 * x.x + 3 * y.y + 17 * t.t + d.bid + d.shift) % 256
                  ELSE (3 * x.x + 5 * y.y + 17 * t.t + d.bid + 100 + d.shift)
                       % 256
             END AS yv
      FROM dims d
      JOIN range(6) t(t) ON t.t < d.nf
      JOIN range(30) x(x) ON x.x < d.w
      JOIN range(18) y(y) ON y.y < d.h
    ),
    sig AS MATERIALIZED (
      SELECT clip_id, w, h, nf, t,
             CAST(sum(yv) AS BIGINT) AS s1,
             CAST(sum(yv * yv) AS BIGINT) AS s2
      FROM px GROUP BY 1, 2, 3, 4, 5
    )
    SELECT CAST(clip_a AS BIGINT) AS clip_a, CAST(clip_b AS BIGINT) AS clip_b,
           d1_sum, d2_sum
    FROM (
      SELECT a.clip_id AS clip_a, b.clip_id AS clip_b,
             a.w * a.h * a.nf AS pix,
             CAST(sum(abs(a.s1 - b.s1)) AS BIGINT) AS d1_sum,
             CAST(sum(abs(a.s2 - b.s2)) AS BIGINT) AS d2_sum
      FROM sig a JOIN sig b
        ON a.w = b.w AND a.h = b.h AND a.nf = b.nf AND a.t = b.t
       AND a.clip_id < b.clip_id
      GROUP BY 1, 2, 3
    ) WHERE d1_sum <= {_VID_THR} * pix
    ORDER BY clip_a, clip_b
    """


@query("video_luma_signature_pairs", oracle=_VID_ORACLE)
def video_luma_signature_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs over REAL y4m streams — completes the
    multimodal near-dup triple (image pHash batch 1, audio fingerprint
    batch 3): each clip is a synth_y4m_scenes two-scene stream, its
    twin the same stream brightness-graded by +4 on the Y plane
    (multimodal.synth_y4m_variants — the re-encode edit temporal
    signatures must catch); the signature is the per-frame EXACT
    integer (ΣY, ΣY²) census of the REAL decoded Y planes
    (multimodal.y4m_luma_signature: y4m header parse, C444 plane
    slicing). Clips block on (w, h, n_frames) — duration/resolution
    blocking, the standard video-dedup first cut — and a pair
    qualifies when Σ_t|Δ(ΣY)_t| ≤ 10·w·h·nf (MEASURED at sf0.001:
    twins span 2.1-7.5 per pixel-frame, non-twins ≥ 13.3 — clean
    margin on both sides; the ΣY² distance rides the output to
    certify the quadratic census too). The oracle PREDICTS every
    frame's census from the closed-form pixels including mod-256
    wraps, so a header/plane-offset/stride bug anywhere in the decode
    diverges the hash.

    100 TB: synth/decode are scan-stage mapInPandas; only slim
    signature arrays shuffle; the shape-blocked self-join meets
    same-bucket clips only, and the per-(pair, frame) join is keyed by
    (shape, t)."""
    from ..operators.multimodal import synth_y4m_variants, y4m_luma_signature

    base = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _N_VIDS
    )
    clips = base.select(
        F.col("doc_id").alias("clip_id"),
        F.col("doc_id").alias("base_id"),
        F.lit(0).alias("shift"),
    ).unionByName(
        base.select(
            (F.col("doc_id") + 100).alias("clip_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(4).alias("shift"),
        )
    )
    sig_wide = y4m_luma_signature(
        synth_y4m_variants(clips, "clip_id", "base_id", "shift")
    ).select("clip_id", "width", "height", "n_frames", "sum_y", "sum_y2")
    sig = sig_wide.select(
        "clip_id",
        "width",
        "height",
        "n_frames",
        F.posexplode(F.arrays_zip("sum_y", "sum_y2")).alias("t", "s"),
    ).select(
        "clip_id",
        "width",
        "height",
        "n_frames",
        "t",
        F.col("s.sum_y").alias("s1"),
        F.col("s.sum_y2").alias("s2"),
    ).localCheckpoint(eager=False)  # both sides of the pair join
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.width") == F.col("b.width"))
            & (F.col("a.height") == F.col("b.height"))
            & (F.col("a.n_frames") == F.col("b.n_frames"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.clip_id") < F.col("b.clip_id")),
        )
        .groupBy(
            F.col("a.clip_id").alias("clip_a"),
            F.col("b.clip_id").alias("clip_b"),
            (F.col("a.width") * F.col("a.height") * F.col("a.n_frames")).alias(
                "pix"
            ),
        )
        .agg(
            F.sum(F.abs(F.col("a.s1") - F.col("b.s1")))
            .cast("bigint")
            .alias("d1_sum"),
            F.sum(F.abs(F.col("a.s2") - F.col("b.s2")))
            .cast("bigint")
            .alias("d2_sum"),
        )
        .filter(F.col("d1_sum") <= _VID_THR * F.col("pix"))
        .select(
            F.col("clip_a").cast("bigint").alias("clip_a"),
            F.col("clip_b").cast("bigint").alias("clip_b"),
            "d1_sum",
            "d2_sum",
        )
        .orderBy("clip_a", "clip_b")
    )
