"""Round 13 batch 1 (image lane): pHash Hamming-ball LSH near-duplicate
pairs and clusters (VERDICT r12, Next round #6a).

image_phash_dct (llmdata11) hashes the image lane; these two operators
close the loop the TEXT lane already has (dedup_minhash_lsh →
dedup_minhash_clusters_cc): banded Hamming blocking over the 64-bit
perceptual hash generates candidates, exact bit_count(xor) verifies,
and connected components turn verified pairs into duplicate clusters.

Blocking guarantee (pigeonhole): the hash splits into 4 disjoint
16-bit bands; any pair within Hamming distance ≤ 3 differs in at most
3 bands, so SOME band matches exactly — the banded self-join has ZERO
false negatives at τ = 3 (it is exact blocking, not an LSH gamble; the
probabilistic recall curve only starts past τ = bands−1).

Planted signal (the fixture-signal rule, MEASURED — SCALE.md r13):
synth_bmp's separable gradients are pHash-degenerate (13 distinct
hashes across 64 ids, 339 pairs at Hamming 0 — a single useless mega-
cluster), so operators/multimodal.synth_bmp_variants generates a
TEXTURED base set (x·y cross term + id-dependent gradients: 64/64
distinct hashes, every base pair ≥ 12 bits apart) and each base gets a
brightness-band twin (+4 on R at source columns x ≡ base mod 11) —
landing ~40/64 twins within τ = 3 and the rest outside, the
near/far mix that keeps both filter branches live at every SF. All
pixels stay closed-form, so the DuckDB oracle rebuilds the exact
63-bit hashes and replays the blocking and clustering.

Ref cite: none — /root/reference has no image surface; §2.3 territory.
Methods public: Zauner 2010 (pHash), Gionis et al. 1999 (banded LSH),
the large/small-star CC discipline per graph_connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import min_label_rounds
from .core import query, table

_N_IMGS = 64
_TWIN_OFFSET = 100
_BUMP = 4
_N_BANDS = 4
_TAU = 3  # exact-blocking bound: bands - 1
_CC_ROUNDS = 4

# phash closed form for the variant image set — the image_phash_dct
# (llmdata11) oracle chain with (bid, bump) parameterizing the luma
_PH_SQL = f"""
    imgs AS (
      SELECT img_id, bid, bump, 16 + bid % 16 AS w, 8 + (bid * 3) % 16 AS h
      FROM (
        SELECT doc_id AS img_id, doc_id AS bid, 0 AS bump
        FROM documents WHERE doc_id < {_N_IMGS}
        UNION ALL
        SELECT doc_id + {_TWIN_OFFSET}, doc_id, {_BUMP}
        FROM documents WHERE doc_id < {_N_IMGS}
      )
    ),
    grid AS (
      SELECT img_id, bid, bump,
             (x.x * w) // 32 AS sx, (y.y * h) // 32 AS sy, x.x, y.y
      FROM imgs, range(32) x(x), range(32) y(y)
    ),
    lum AS (
      SELECT img_id, x, y,
             299 * ((((37 * bid + 3) * sx + (59 * bid + 7) * sy
                      + sx * sy + bid) % 256
                     + CASE WHEN sx % 11 = bid % 11 THEN bump ELSE 0 END)
                    % 256)
             + 587 * ((11 * sy + bid) % 256)
             + 114 * ((sx + sy) % 256) AS l
      FROM grid
    ),
    qc AS (
      SELECT u.u, x.x,
             CAST(floor(cos(pi() * (2 * x.x + 1) * u.u / 64) * 10000 + 0.5)
                  AS BIGINT) AS c
      FROM range(8) u(u), range(32) x(x)
    ),
    p AS (
      SELECT l.img_id, l.x, q.u AS v, sum(q.c * l.l) AS pv
      FROM lum l JOIN qc q ON q.x = l.y GROUP BY 1, 2, 3
    ),
    dct AS (
      SELECT p.img_id, q.u AS u, p.v, sum(q.c * p.pv) AS dd
      FROM p JOIN qc q ON q.x = p.x GROUP BY 1, 2, 3
    ),
    ac AS (
      SELECT img_id, u, v, dd,
             row_number() OVER (PARTITION BY img_id ORDER BY dd) AS rn
      FROM dct WHERE NOT (u = 0 AND v = 0)
    ),
    med AS (SELECT img_id, dd AS m FROM ac WHERE rn = 32),
    ph AS MATERIALIZED (
      SELECT ac.img_id,
             CAST(sum(CASE WHEN ac.dd > med.m
                      THEN (CAST(1 AS BIGINT)
                            << CAST(ac.u * 8 + ac.v - 1 AS INT))
                      ELSE 0 END) AS BIGINT) AS phash
      FROM ac JOIN med USING (img_id) GROUP BY ac.img_id
    ),
    bands AS (
      SELECT img_id, CAST(b.b AS INT) AS band,
             (phash >> CAST(16 * b.b AS INT)) & 65535 AS bv
      FROM ph, range({_N_BANDS}) b(b)
    ),
    cand AS (
      SELECT DISTINCT a.img_id AS img_a, c.img_id AS img_b
      FROM bands a JOIN bands c
        ON a.band = c.band AND a.bv = c.bv AND a.img_id < c.img_id
    ),
    pairsv AS MATERIALIZED (
      SELECT cand.img_a, cand.img_b,
             CAST(bit_count(xor(pa.phash, pb.phash)) AS BIGINT) AS hamming
      FROM cand
      JOIN ph pa ON pa.img_id = cand.img_a
      JOIN ph pb ON pb.img_id = cand.img_b
      WHERE bit_count(xor(pa.phash, pb.phash)) <= {_TAU}
    )"""


@query(
    "image_phash_hamming_pairs",
    oracle=f"""
    WITH {_PH_SQL}
    SELECT CAST(img_a AS BIGINT) AS img_a, CAST(img_b AS BIGINT) AS img_b,
           hamming
    FROM pairsv ORDER BY img_a, img_b
    """,
)
def image_phash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate PAIRS: pHash the variant image set (64 base
    BMPs + their planted brightness-band twins), block by 4×16-bit
    Hamming bands (pigeonhole-exact for τ = 3), verify candidates with
    exact bit_count(xor) ≤ 3. The twin of image i edits only R at
    source columns x ≡ i (mod 11) — the brightness-band change pHash's
    median-threshold bits mostly ignore, so twins land within τ while
    unrelated images stay far.

    100 TB: the hash (8 bytes) is all that ever shuffles — images
    never pair; the banded self-join meets only same-bucket hashes
    (SimHash discipline); verification is one integer popcount per
    candidate. Real-image deployments swap synth_bmp_variants for the
    decode gate and keep everything downstream."""
    from ..operators.multimodal import phash_dct, synth_bmp_variants

    base = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < _N_IMGS
    )
    imgs = base.select(
        F.col("doc_id").alias("img_id"),
        F.col("doc_id").alias("base_id"),
        F.lit(0).alias("bump"),
    ).unionByName(
        base.select(
            (F.col("doc_id") + _TWIN_OFFSET).alias("img_id"),
            F.col("doc_id").alias("base_id"),
            F.lit(_BUMP).alias("bump"),
        )
    )
    ph = (
        phash_dct(synth_bmp_variants(imgs, "img_id", "base_id", "bump"))
        .select("img_id", "phash")
        .localCheckpoint(eager=False)  # bands + both verify sides
    )
    bands = ph.select(
        "img_id",
        "phash",
        F.explode(
            F.array(*[F.lit(b) for b in range(_N_BANDS)])
        ).alias("band"),
    ).select(
        "img_id",
        "band",
        F.expr("(phash >> CAST(16 * band AS INT)) & 65535").alias("bv"),
    )
    a, c = bands.alias("a"), bands.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col("a.img_id") < F.col("c.img_id")),
        )
        .select(
            F.col("a.img_id").alias("img_a"), F.col("c.img_id").alias("img_b")
        )
        .distinct()
    )
    pa = ph.select(F.col("img_id").alias("img_a"), F.col("phash").alias("pa"))
    pb = ph.select(F.col("img_id").alias("img_b"), F.col("phash").alias("pb"))
    return (
        cand.join(pa, "img_a")
        .join(pb, "img_b")
        .select(
            F.col("img_a").cast("bigint").alias("img_a"),
            F.col("img_b").cast("bigint").alias("img_b"),
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _TAU)
        .orderBy("img_a", "img_b")
    )


def _cc_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
      SELECT n.id, least(n.label, coalesce(min(l.label), n.label)) AS label
      FROM {prev} n
      LEFT JOIN eh ON eh.dst = n.id
      LEFT JOIN {prev} l ON l.id = eh.src
      GROUP BY n.id, n.label
    )"""


@query(
    "image_phash_hamming_clusters",
    oracle=f"""
    WITH {_PH_SQL},
    eh AS MATERIALIZED (
      SELECT img_a AS src, img_b AS dst FROM pairsv
      UNION ALL SELECT img_b, img_a FROM pairsv
    ),
    c0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM eh),
    {",".join(_cc_round_sql(f"c{i}", f"c{i + 1}") for i in range(_CC_ROUNDS))},
    viol AS (
      SELECT CAST(count(*) AS BIGINT) AS n_viol
      FROM eh
      JOIN c{_CC_ROUNDS} s ON eh.src = s.id
      JOIN c{_CC_ROUNDS} t ON eh.dst = t.id
      WHERE s.label <> t.label
    )
    SELECT CAST(label AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(id) AS BIGINT) AS keeper_id,
           (SELECT n_viol = 0 FROM viol) AS converged
    FROM c{_CC_ROUNDS} GROUP BY label ORDER BY cluster_id
    """,
)
def image_phash_hamming_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate CLUSTERS: the verified Hamming-ball pairs
    (image_phash_hamming_pairs' exact blocked join) are edges of the
    duplicate graph; connected components — min-label propagation, 4
    synchronous rounds with a CONVERGED certificate (zero
    label-discordant edges) riding the value hash on both engines —
    give the keep-one-per-cluster census the text lane already has in
    dedup_minhash_clusters_cc. Transitivity matters for images too:
    brightness twin A~B and crop twin B~C cluster {{A,B,C}} even when
    A and C are > τ apart.

    100 TB: edges come from the banded candidate join (never
    all-pairs); each CC round shuffles O(edges) slim (dst, label)
    pairs with map-side min combining and a per-round lineage cut —
    the graph_connected_components discipline."""
    pairs = image_phash_hamming_pairs(spark, sf_dir).select("img_a", "img_b")
    e = (
        pairs.select(F.col("img_a").alias("src"), F.col("img_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("img_b").alias("src"), F.col("img_a").alias("dst")
            )
        )
        .localCheckpoint(eager=False)  # reused every round + certificate
    )
    seed = e.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    lab = min_label_rounds(e, seed, _CC_ROUNDS)
    viol = (
        e.join(lab.select(F.col("id").alias("src"), F.col("label").alias("ls")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("lt")), "dst")
        .where(F.col("ls") != F.col("lt"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_viol"))
    )
    return (
        lab.groupBy(F.col("label").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("id").cast("bigint").alias("keeper_id"),
        )
        .crossJoin(F.broadcast(viol))
        .select(
            "cluster_id",
            "n_members",
            "keeper_id",
            (F.col("n_viol") == 0).alias("converged"),
        )
        .orderBy("cluster_id")
    )
