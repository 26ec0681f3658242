"""Deduplication operators over document corpora (SURVEY §2.3).

Scale doctrine: never materialize the O(n²) pair space. MinHash/SimHash
go through LSH-band blocking so only bucket-colliding candidate pairs are
verified; n-gram Jaccard goes through an inverted-index (posting-list) join. Everything is pure DataFrame
expressions — deterministic (fixed hash-family coefficients, no RNG), so
results are reproducible run-to-run and testable.

Connected components (pairs → clusters, the retention step) is written
here once: ``min_label_rounds`` is the min-label kernel the fixed-round
workloads call (with ``weight=``, also the BFS and Bellman–Ford
relaxation), ``large_star``/``small_star`` the star step, and
``connected_components``/``connected_components_star`` iterate them to
a fixpoint (``rounds.fixpoint``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import Step, fixpoint, rounds as run_rounds

# Mersenne prime 2^31-1: the classic universal-hash modulus. Keeping
# arithmetic under 2^31 keeps a*h+b within long range even with ANSI
# overflow checks enabled (Spark 4 default).
_P = 2_147_483_647
# Deterministic hash-family coefficients (a_j, b_j) seeded by j.
_A = [2 * j + 1 for j in range(1, 129)]  # odd multipliers
_B = [(j * j * 7919 + 104729) % _P for j in range(1, 129)]


def tokenize(text: Column) -> Column:
    return F.array_distinct(F.split(F.lower(text), r"\s+"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles; documents shorter than n words fall back
    to whole-text so they can still collide with near-identical twins."""
    toks = F.split(F.lower(text), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))))


def _pmodP(h: Column) -> Column:
    """Fold an xxhash64 long into [0, P): keeps downstream affine hashing
    in overflow-safe range."""
    return F.pmod(h, F.lit(_P))


def shingle_hashes(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, array<long> of distinct n-gram shingle hashes) — the hashed
    twin of ``word_shingles`` that never builds a shingle STRING: tokens
    hash once behind a Generate barrier (explode of a 1-element array;
    without it project collapse re-inlines the token-hash array into every
    element_at and re-hashes the document per gram), then each gram hash
    combines n token hashes in one xxhash64 call. Measured 6x over
    concat_ws(slice(...)) shingling at sf0.1. try_element_at pads short
    documents with NULLs, reproducing word_shingles' whole-text fallback
    (one deterministic gram per short doc).

    Set equality/distinctness matches the string shingles modulo 64-bit
    collisions — negligible against any eval/corpus cardinality — so
    Jaccard over these hashes equals Jaccard over the strings, while
    downstream shuffles carry 8-byte longs instead of ~n-word strings.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    base = df.select(F.col(id_col).alias("_sid"), F.explode(F.array(th)).alias("_th"))
    idx = F.sequence(F.lit(1), F.greatest(F.size(F.col("_th")) - (n - 1), F.lit(1)))
    gram = lambda i: F.xxhash64(  # noqa: E731
        *[F.try_element_at(F.col("_th"), i + j) for j in range(n)]
    )
    return base.select(
        "_sid", F.array_distinct(F.transform(idx, gram)).alias("_shingle_hashes")
    )


def minhash_signature_from_hashes(hashed: Column | str, k: int = 32) -> Column:
    """Signature from an already-folded hash array (see the CSE note in
    ``minhash_lsh_candidates`` — pass an attribute, not a deep expression).

    Pass the attribute NAME (string) where possible: the k=32 per-element
    column tree is then assembled as one SQL string parsed JVM-side in a
    single call, instead of ~200 py4j round-trips — measured ~0.3s off
    every query *construction* (driver-side latency, paid per submission).
    """
    if isinstance(hashed, str):
        parts = ", ".join(
            f"array_min(transform({hashed}, h -> pmod({_A[j]}L * h + {_B[j]}L, {_P}L)))"
            for j in range(k)
        )
        return F.expr(f"array({parts})")

    def affine(j: int):
        a, b = _A[j], _B[j]
        # NB: the lambda must take exactly one arg — PySpark binds a Column
        # per declared parameter of a HOF lambda.
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_P))

    return F.array(*[F.array_min(F.transform(hashed, affine(j))) for j in range(k)])


def minhash_lsh_candidates(
    df: DataFrame, text_col: str, id_col: str, k: int = 32, bands: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    rows = k/bands per band; a pair collides if any band's sub-signature
    matches exactly. Returns (id_a, id_b) with id_a < id_b, distinct.

    100 TB: explode to (band, band_hash, id) — the self-join shuffles on
    (band, band_hash) so only same-bucket ids meet; signature arrays never
    cross the shuffle (band_hash is a single long).

    The shingle→hash array goes through an explode(array(...)) Generate
    barrier before the k affine maps: Spark does no CSE across HOF lambda
    boundaries, so without the barrier the whole shingle pipeline
    (split/slice/concat/distinct/xxhash64) re-evaluates inside every one
    of the k signature elements AND every band slice — measured minutes
    instead of seconds at 5k docs.
    """
    r = k // bands
    hashed = shingle_hashes(df, text_col, id_col, shingle_n).select(
        F.col("_sid").alias("_id"),
        F.explode(F.array(F.transform(F.col("_shingle_hashes"), _pmodP))).alias("_hb"),
    )
    # second barrier: the signature is referenced once per band slice —
    # materialize it so the k array_min folds run once, not `bands` times.
    signed = hashed.select(
        "_id", F.explode(F.array(minhash_signature_from_hashes("_hb", k))).alias("_sig")
    )
    banded = signed.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.slice(F.col("_sig"), b * r + 1, r))).alias("bhash"),
                ),
            )
        ).alias("bh"),
    ).select("_id", "bh.band", "bh.bhash")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified by exact shingle-Jaccard ≥ threshold.

    Returns (id_a, id_b, jaccard) confirmed near-dup pairs.
    """
    cands = minhash_lsh_candidates(df, text_col, id_col, k, bands, shingle_n)
    # both verification sides read the same shingle table — materialize
    # once instead of re-shingling the corpus per join side (plan audit).
    sh = shingle_hashes(df, text_col, id_col, shingle_n).select(
        F.col("_sid").alias("_jid"), F.col("_shingle_hashes").alias("_sh")
    ).localCheckpoint(eager=False)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    return (
        cands.join(a, cands.id_a == F.col("a._jid"))
        .join(b, cands.id_b == F.col("b._jid"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash long): per-feature xxhash64, per-bit ±1 votes, sign
    bits reassembled into a 64-bit fingerprint.

    Features are word n-gram SHINGLES (``shingle_n``; 1 = plain TF tokens).
    Measured on the synthetic corpus (31-word vocabulary): token features
    put thousands of unrelated pairs under Hamming 6, while 3-shingle
    features give 24/28 planted-pair recall at Hamming ≤ 6 with zero false
    positives in 3000 random pairs — shingles carry the word-order signal
    SimHash needs when the vocabulary is small.

    Shape: explode features → one hash per row → 64 conditional sums in a
    single hash aggregate by id (one shuffle — the same inverted-index
    shuffle every dedup pass here uses; bit shifts are compile-time ints
    inside codegen).

    ``hash_fn='md5_60'`` derives the feature hash from md5's first 15 hex
    chars (60 bits; bits 60-63 then vote negative for every doc, a shared
    constant that cancels in Hamming distances). md5 exists in DuckDB with
    identical output, making the whole fingerprint ORACLE-COMPUTABLE —
    xxhash64, the cheaper default, has no cross-engine twin.
    """
    if hash_fn == "md5_60":
        h = F.conv(F.substring(F.md5(F.col("_tok")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("_tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    feats = (
        F.split(F.lower(F.col(text_col)), r"\s+")
        if shingle_n == 1
        else word_shingles(F.col(text_col), shingle_n)
    )
    voted = (
        df.select(F.col(id_col).alias("_id"), F.explode(feats).alias("_tok"))
        .groupBy("_id")
        .agg(*votes)
    )
    sim = None
    for j in range(bits):
        bit = (1 << j) if j < 63 else -(1 << 63)  # bit 63 = sign bit of long
        term = F.when(F.col(f"v{j}") > 0, F.lit(bit).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim.bitwiseOR(term)
    return voted.select("_id", sim.alias("_sim"))


def simhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Blocking: split the 64-bit hash into ``bands`` segments; by pigeonhole
    any pair within distance < bands shares at least one exact segment, so
    the join is an equi-join on (segment_idx, segment_value) — never a
    cross product. Verification counts differing bits via bit_count(xor).
    """
    width = 64 // bands
    mask = (1 << width) - 1
    sh = simhash_table(df, text_col, id_col, hash_fn=hash_fn)
    # shift amounts must be Python ints (codegen'd constants), so the band
    # structs are built in a driver-side loop, not a HOF.
    seg_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("seg"),
                F.shiftrightunsigned(F.col("_sim"), b * width).bitwiseAND(F.lit(mask)).alias("segval"),
            )
            for b in range(bands)
        ]
    )
    seg = sh.select("_id", "_sim", F.explode(seg_structs).alias("s")).select(
        "_id", "_sim", "s.seg", "s.segval"
    )
    l, r = seg.alias("l"), seg.alias("r")
    hamming = F.bit_count(F.col("l._sim").bitwiseXOR(F.col("r._sim")))
    return (
        l.join(
            r,
            (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.segval") == F.col("r.segval"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"), hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.5
) -> DataFrame:
    """Exact token-Jaccard near-dup pairs via an inverted-index join.

    explode(tokens) → posting lists → self-join on token counts common
    tokens per pair; |A∪B| = |A|+|B|−common. The pair space is bounded by
    co-occurring tokens, not n². 100 TB: drop stop-tokens with huge posting
    lists (df > limit) before the join — the classic positional-filter
    refinement; omitted here because the synthetic vocabulary is small.
    """
    toks = df.select(F.col(id_col).alias("_id"), tokenize(F.col(text_col)).alias("_t"))
    sizes = toks.select("_id", F.size("_t").alias("_n"))
    posting = toks.select("_id", F.explode("_t").alias("tok"))
    l, r = posting.alias("l"), posting.alias("r")
    common = (
        l.join(r, (F.col("l.tok") == F.col("r.tok")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa._n") + F.col("sb._n") - F.col("n_common"))
    return (
        common.join(sa, common.id_a == F.col("sa._id"))
        .join(sb, common.id_b == F.col("sb._id"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def min_label_rounds(
    edges: DataFrame, labels: DataFrame, rounds: int, weight: Column | None = None
) -> DataFrame:
    """Exactly ``rounds`` synchronous min-label rounds over the min
    semiring: label(v) <- min(label(v), min over neighbors label(u)).

    ``edges`` is ``(src, dst)`` with both directions present; ``labels``
    is the ``(id, label)`` seed (any orderable id type). A node with no
    edge keeps its label. Returns ``(id, label)``. Calls no action (under
    AQE each lazy checkpoint still runs its round's shuffle stages when it
    is planned): the fixed-round workloads replay this truncation in their
    oracle SQL, and ``connected_components`` probes convergence around it.

    With ``weight`` (a numeric column over ``edges``) a round relaxes
    min(label(u) + weight) instead: the min-plus semiring of BFS
    (``F.lit(1)``) and Bellman–Ford (an edge-weight column). It is never
    inferred from the edge columns: component callers pass weighted edges
    too.

    Scale: each round is one shuffle join (edges ⋈ labels on src) plus a
    min aggregate on dst with map-side combining; ``rounds`` cuts each
    round's lineage."""
    return run_rounds(labels, _min_label_step(edges, weight), rounds)[-1]


def _min_label_step(edges: DataFrame, weight: Column | None) -> Step:
    relaxed = F.col("sl") if weight is None else F.col("sl") + weight

    def step(labels: DataFrame) -> DataFrame:
        best = (
            edges.join(
                labels.select(F.col("id").alias("src"), F.col("label").alias("sl")),
                "src",
            )
            .groupBy("dst")
            .agg(F.min(relaxed).alias("nl"))
        )
        return labels.join(best, labels["id"] == best["dst"], "left").select(
            "id",
            F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label"))).alias(
                "label"
            ),
        )

    return step


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Near-dup pairs → dedup clusters: (id, comp) where comp is the
    minimum id reachable through the pair graph.

    This is the step that turns pairwise dedup output into something a
    pipeline can act on — pairs alone can't answer "which copy do we keep?"
    when dups chain (A≈B, B≈C but A!≈C): the cluster is the unit of
    retention, and min-id-per-component is the canonical pick.

    Algorithm: hash-to-min label propagation, one ``min_label_rounds``
    round per iteration until a round leaves the ``rounds.fixpoint``
    probe unchanged (one action per round); converges in O(graph diameter)
    rounds. Dedup graphs are near-cliques of bounded size, so the diameter
    is tiny (2-3 rounds); for adversarial long-chain graphs
    ``connected_components_star`` drops to O(log²n) rounds. Raises
    ``RuntimeError`` when ``max_iter`` rounds pass without a fixpoint.

    Scale: edges shuffle once per round; at 100 TB the label table is
    |V| ≈ docs-in-any-pair, far smaller than the corpus.
    """
    sym = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    labels = fixpoint(labels, _min_label_step(sym, None), max_iter, "connected_components")
    return labels.withColumnRenamed("label", "comp")


def _sym(e: DataFrame) -> DataFrame:
    return e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al. 2014): every node points its LARGER
    neighbors at m(u) = min(Γ(u) ∪ {u}). ``e`` is an undirected ``(u, v)``
    edge list, either orientation; returns distinct ``(u, v)`` with
    u > v."""
    sym = _sym(e)
    mins = sym.groupBy("u").agg(F.min("v").alias("m0")).select(
        "u", F.least("m0", "u").alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def small_star(e: DataFrame) -> DataFrame:
    """Small-star (Kiveris et al. 2014): every node and its SMALLER
    neighbors collapse onto the minimum of those neighbors. ``e`` is an
    undirected ``(u, v)`` edge list, either orientation; returns distinct
    ``(u, v)`` with u > v."""
    # orient each edge from the larger endpoint
    le = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = le.groupBy("u").agg(F.min("v").alias("m"))
    return (
        le.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionAll(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def star_round(e: DataFrame) -> DataFrame:
    """One large-star then small-star pass: the round both star loops
    iterate."""
    return small_star(large_star(e))


def connected_components_star(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by alternating ``large_star``/``small_star``
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the adversarial-graph twin of ``connected_components``:
    converges in O(log² n) rounds regardless of graph diameter, where
    hash-to-min needs O(diameter) rounds (a 10⁶-long chain = 10⁶ rounds
    vs ~40).

    Each round is two groupBy-min + join passes over the current edge
    list, lineage truncated per round. Converged when a round leaves the
    edge list's fingerprint unchanged (star forest: every non-root
    points at its component min); output matches ``connected_components``
    exactly. Raises ``RuntimeError`` when ``max_iter`` rounds pass without
    a fixpoint.
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    edges = fixpoint(edges, star_round, max_iter, "connected_components_star")

    # fixed point is a star: every non-root points at its component min
    nodes = _sym(edges).select("u").distinct()
    roots = nodes.join(edges, "u", "left_anti").select(
        F.col("u").alias("id"), F.col("u").alias("comp")
    )
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    return members.unionAll(roots)


def embedding_cosine_pairs_blocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_blocks: int | None = None,
    per_blockpair_topk: int | None = None,
    target_block_bytes: int = 16 << 20,
    max_rows: int = 2_000_000,
) -> DataFrame:
    """Exact cosine pairs via blocked GEMM: hash vectors into n_blocks
    groups, join the B(B+1)/2 block pairs, and compute each block pair's
    similarity matrix as ONE numpy matmul inside mapInPandas.

    Why not the expression form (``embedding_cosine_pairs``): a theta
    join on id< evaluates an INTERPRETED zip_with/aggregate lambda per
    pair — 2M pairs × dim 64 took 30 s at sf0.1; one BLAS matmul per
    block pair does the same 256 M multiply-adds in ~milliseconds
    (measured 30 s → ~2 s). Normalization stays JVM-side; only the
    pairwise product crosses into Arrow, which is exactly the "Pandas
    UDFs where expressions can't" rule — matrix multiply has no
    vectorized expression form.

    ``per_blockpair_topk`` prunes each block pair to its local top-k
    before anything crosses Arrow: a global top-k is a subset of the
    union of block-pair top-ks, so downstream TakeOrdered stays exact
    while the UDF emits B(B+1)/2 × k rows instead of all pairs.

    100 TB: block size must fit executor memory and B² block pairs grow
    quadratically — this is the validation/re-rank kernel, and it ENFORCES
    that contract: inputs over ``max_rows`` raise with a pointer to the
    LSH/IVF scale path (operators/similarity.py), and when ``n_blocks`` is
    not given it derives from ``target_block_bytes`` so a block's
    collect_list row stays ~16 MB regardless of corpus size (the one
    count() + size() probe this costs is fine for a capped kernel).
    Float caveat: BLAS sums in a different order than the sequential
    fold, so cosines can differ from an engine's sequential dot by
    ~1e-15 — downstream consumers round (fround ≥4 digits) before
    comparing cross-engine. Under ``per_blockpair_topk`` ties at the
    local cut break deterministically by (cosine desc, id_a, id_b), so
    the local top-k is a superset of the global deterministic top-k.
    """
    import pandas as pd

    n_rows = df.count()
    if n_rows > max_rows:
        raise ValueError(
            f"embedding_cosine_pairs_blocked is the exact validation/re-rank "
            f"kernel, capped at {max_rows} rows (got {n_rows}); use "
            f"operators.similarity.lsh_bucketed_topk or ivf_topk for "
            f"corpus-scale near-neighbor search"
        )
    if n_blocks is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"]) if first and first["d"] is not None else 64
        # 8 bytes/component + struct/id overhead per row inside collect_list
        row_bytes = dim * 8 + 32
        by_bytes = -(-(n_rows * row_bytes) // target_block_bytes)
        # Also want ≥defaultParallelism block pairs (B(B+1)/2 ≥ P) so the
        # matmuls fill the cluster even when the corpus fits one block.
        p = df.sparkSession.sparkContext.defaultParallelism
        by_par = int((-1 + (1 + 8 * p) ** 0.5) / 2 + 0.9999)
        n_blocks = max(1, by_bytes, by_par)

    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(as_double, F.lit(0.0), lambda s, x: s + x * x))
    v = df.select(
        F.col(id_col).alias("_id"),
        F.transform(as_double, lambda x: x / norm).alias("_v"),
    )
    blocks = (
        v.select(F.pmod(F.col("_id"), F.lit(n_blocks)).alias("_b"), "_id", "_v")
        .groupBy("_b")
        .agg(F.collect_list(F.struct("_id", "_v")).alias("items"))
    )
    bp = (
        blocks.alias("x")
        .join(blocks.alias("y"), F.col("x._b") <= F.col("y._b"))
        .select(
            (F.col("x._b") == F.col("y._b")).alias("diag"),
            F.col("x.items").alias("ia"),
            F.col("y.items").alias("ib"),
        )
    )

    def gen(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for diag, ia, ib in zip(pdf["diag"], pdf["ia"], pdf["ib"]):
                ids_a = np.array([t["_id"] for t in ia], dtype=np.int64)
                mat_a = np.array([t["_v"] for t in ia], dtype=np.float64)
                ids_b = np.array([t["_id"] for t in ib], dtype=np.int64)
                mat_b = np.array([t["_v"] for t in ib], dtype=np.float64)
                cos = mat_a @ mat_b.T
                # Diagonal block pair: ia is ib — keep id_a<id_b so each
                # unordered pair appears once. Cross block pair: every
                # (a,b) combination is a distinct unordered pair; ids are
                # NOT ordered across blocks, so order per pair below.
                if diag:
                    mask = (ids_a[:, None] < ids_b[None, :]) & (cos >= threshold)
                else:
                    mask = cos >= threshold
                r, c = np.nonzero(mask)
                lo = np.minimum(ids_a[r], ids_b[c])
                hi = np.maximum(ids_a[r], ids_b[c])
                if per_blockpair_topk is not None and len(r) > per_blockpair_topk:
                    # lexsort: last key is primary → (cosine desc, lo, hi).
                    # Deterministic tie-break keeps the local cut a superset
                    # of any global deterministic top-k under cosine ties.
                    keep = np.lexsort((hi, lo, -cos[r, c]))[:per_blockpair_topk]
                    r, c, lo, hi = r[keep], c[keep], lo[keep], hi[keep]
                out.append(pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[r, c]}))
            yield pd.concat(out) if out else pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": []}
            )

    return bp.mapInPandas(gen, "id_a bigint, id_b bigint, cosine double")


def embedding_cosine_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold.

    Brute-force pair join as pure expressions (reduction-order-exact
    baseline for small inputs; ``embedding_cosine_pairs_blocked`` is the
    fast kernel and operators/similarity.py the 100 TB route).
    """
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(as_double, F.lit(0.0), lambda s, x: s + x * x))
    v = df.select(
        F.col(id_col).alias("_id"),
        F.transform(as_double, lambda x: x / norm).alias("_v"),
    )
    l, r = v.alias("l"), v.alias("r")
    cosine = F.aggregate(
        F.zip_with(F.col("l._v"), F.col("r._v"), lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    return (
        l.join(r, F.col("l._id") < F.col("r._id"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"), "cosine")
    )
