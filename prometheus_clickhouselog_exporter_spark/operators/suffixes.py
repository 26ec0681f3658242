"""Suffix-adjacency LCP with prefix-doubling extension — the unbounded-
document path of the suffix-array substring dedup (workloads/llmdata13
is the fixed-bound registry form; this operator removes the bound).

Why doubling: sorting truncated suffixes is exact only while no two
DISTINCT suffixes share an entire truncation-length prefix — past that,
tie blocks sort arbitrarily and the max-LCP pair may not be adjacent.
Rather than materializing full suffixes (O(n·maxlen) data), the cap
doubles only while a tie at the current cap exists. Since r13's
optimization pass the tie probe is a HASH CENSUS (a tie at cap c exists
iff some complete c-token window is duplicated — one xxhash64 hash-agg,
no payload shuffle), so the O(n · cap) token sort runs exactly ONCE, at
the first census-certified tie-free cap. Caps grow geometrically, so
census work is within 2x of the final cap — the classical
prefix-doubling bound, with the sorts it used to spend on probing
replaced by 8-byte hash aggregates.

100 TB: the sort is Spark's range-partitioned sort (never a global
window); the convergence check collects ONE row per round. Web-corpus
distributions converge at small caps (shared prefixes longer than a few
hundred tokens are exactly the near-duplicate mass the operator exists
to find).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import fan_out


def adjacency_lcp(sufs: DataFrame) -> DataFrame:
    """Shared suffix-adjacency core (used by the fixed-bound registry
    form, workloads/llmdata13, AND the doubling loop below): given
    (doc_id, pos, tok1, tok2, suf) rows, sort within the 2-token
    bucket, lag to the sorted neighbor, and fold the token LCP with the
    cross-engine-verified zip-equality recipe (array_position returns 0
    when not found in BOTH engines; zip padding NULLs are skipped by
    both — the coalesce(nullif(..., 0) - 1, least(sizes)) shape).
    Returns (doc_id, pos, suf, psuf, pdoc, ppos, crossdoc, lcp)."""
    w = Window.partitionBy("tok1", "tok2").orderBy("suf", "doc_id", "pos")
    adj = sufs.select(
        "doc_id",
        "pos",
        "suf",
        F.lag("doc_id").over(w).alias("pdoc"),
        F.lag("pos").over(w).alias("ppos"),
        F.lag("suf").over(w).alias("psuf"),
    ).filter(F.col("psuf").isNotNull())
    lcp = F.coalesce(
        F.nullif(
            F.array_position(
                F.zip_with("suf", "psuf", lambda x, y: x == y), F.lit(False)
            ),
            F.lit(0),
        )
        - 1,
        F.least(F.size("suf"), F.size("psuf")).cast("long"),
    ).cast("bigint")
    return adj.select(
        "doc_id",
        "pos",
        "suf",
        "psuf",
        "pdoc",
        "ppos",
        (F.col("doc_id") != F.col("pdoc")).alias("crossdoc"),
        lcp.alias("lcp"),
    )


def suffix_lcp_unbounded(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    start_cap: int = 16,
    max_rounds: int = 8,
) -> DataFrame:
    """Adjacency rows (doc_id, pos, pdoc, ppos, crossdoc, lcp) with EXACT
    LCPs for arbitrarily long documents: the sort key doubles from
    ``start_cap`` tokens until no adjacent pair ties at the cap (or
    ``max_rounds`` doublings — then it fails loud rather than return a
    truncated answer).

    SINGLE-CONSUMPTION CONTRACT (ADVICE r13 #4): the returned adjacency
    frame is NOT checkpointed — a consumer that triggers it more than
    once re-runs the O(n·cap) certified sort each time. Its callers,
    ``dedup_longest_substring_unbounded`` (llmdata18.py:140) and
    ``suffix_lcp_auto`` (its "doubling" form, used by llmdata22), consume
    it linearly; llmdata13's truncated form only cites it as the
    extension for unbounded documents. Add ``.localCheckpoint(eager=False)``
    at the call site if a multi-action consumer ever appears.
    """
    tokens = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    # Checkpoint the token ARRAYS once per doc and the slim per-position
    # rows separately: materializing the full array on every position
    # row would be O(doc_len^2) cells per document — exactly the blowup
    # the doubling loop exists to avoid. Each round re-joins positions
    # to the per-doc arrays and slices to the current cap, so storage is
    # O(n) and per-round data is O(n * cap).
    # fan_out: the per-round O(n·cap) suffix slices are built ABOVE this
    # scan, and a 1-row-group parquet would pin them to one core (r13)
    toks = fan_out(docs).filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens.alias("tokens")
    ).localCheckpoint(eager=False)
    sufs_base = toks.select(
        "doc_id",
        F.posexplode("tokens").alias("pos", "tok1"),
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "tok1",
    ).localCheckpoint(eager=False)

    # Find the final cap with HASH CENSUSES instead of full sort rounds
    # (r13 optimization pass, guide §2.3/§2.4 — shuffle hashes, not
    # O(n·cap) token payloads). Equivalence: an adjacent pair "ties at
    # cap c" in the sorted order iff BOTH sliced suffixes fill c and
    # match entirely — i.e. iff some complete c-token window occurs at
    # two distinct positions. (⇐: two equal complete windows put a run
    # of ≥2 suffixes sharing the c-prefix contiguously in sorted order —
    # any suffix ordered between them must itself carry the same
    # complete prefix, since a shorter prefix-suffix sorts BEFORE the
    # run — so some adjacent pair ties. ⇒: an adjacent tie IS a
    # duplicated complete window.) A census per candidate cap is one
    # map-side xxhash64 over the window plus a duplicate-exists
    # aggregate; hash collisions can only claim a spurious tie, which
    # grows the cap one step — never returns a wrong order, because the
    # FINAL sort runs at a census-certified tie-free cap and a tie-free
    # capped sort equals the full-suffix sort (the old loop's own
    # termination argument). Only that one sort ever runs; the old
    # loop's discarded intermediate sorts (2× the final round's work)
    # are gone.
    cap = start_cap
    for _ in range(max_rounds):
        window = F.slice("tokens", F.col("pos") + 1, cap)
        dup_windows = (
            sufs_base.join(toks, "doc_id")
            .where(F.size("tokens") - F.col("pos") >= cap)
            .select(F.xxhash64(F.concat_ws(" ", window)).alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .limit(1)
            .count()
        )
        if dup_windows == 0:
            sufs = sufs_base.join(toks, "doc_id").select(
                "doc_id",
                "pos",
                "tok1",
                F.coalesce(F.get("tokens", F.col("pos") + 1), F.lit("")).alias(
                    "tok2"
                ),
                F.slice("tokens", F.col("pos") + 1, cap).alias("suf"),
            )
            return adjacency_lcp(sufs).select(
                "doc_id", "pos", "pdoc", "ppos", "crossdoc", "lcp"
            )
        cap *= 2
    raise RuntimeError(
        f"suffix_lcp_unbounded: ties persist at cap={cap} after "
        f"{max_rounds} doublings — raise max_rounds (corpus has "
        "duplicated prefixes longer than the cap; note a ~2^-64 "
        "xxhash64 census collision can also inflate the cap one step)"
    )


def suffix_lcp_auto(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = 128,
) -> tuple[DataFrame, str]:
    """Dispatch between the two exact suffix-LCP forms (r7 verdict
    directive #4) from ONE cheap 1-row aggregate — max token length:

    - ``max(doc_len) <= cap`` → the TRUNCATED form: one bucketed sort of
      ``cap``-token suffix slices (cheapest, and exact because no
      distinct suffixes can tie through an entire cap-length prefix when
      no document reaches it);
    - otherwise → the PREFIX-DOUBLING form: the sort key grows only
      while adjacent ties persist, so arbitrarily long documents stay
      exact with payload set by the corpus' duplicated-prefix mass.

    Max (not p99) is the dispatch statistic because it is the exactness
    criterion itself: a single doc past the cap is precisely what makes
    the truncated sort unsound (and what its fail-loud guard rejects) —
    a percentile would re-introduce the silent-truncation risk the
    doubling form exists to close.

    Returns (adjacency rows, form) with form in {"truncated",
    "doubling"} so callers can surface the decision in a column.
    """
    tokens = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit(""))
    base = docs.filter(F.col(text_col).isNotNull())
    max_len = base.agg(F.max(F.size(tokens)).alias("m")).first()["m"] or 0
    if max_len > cap:
        return (
            suffix_lcp_unbounded(docs, text_col=text_col, id_col=id_col),
            "doubling",
        )
    toks = base.select(F.col(id_col).alias("doc_id"), tokens.alias("tokens"))
    sufs = toks.select(
        "doc_id",
        F.posexplode("tokens").alias("pos", "tok1"),
        F.col("tokens"),
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "tok1",
        F.coalesce(F.get("tokens", F.col("pos") + 1), F.lit("")).alias("tok2"),
        F.slice("tokens", F.col("pos") + 1, cap).alias("suf"),
    )
    return (
        adjacency_lcp(sufs).select(
            "doc_id", "pos", "pdoc", "ppos", "crossdoc", "lcp"
        ),
        "truncated",
    )
