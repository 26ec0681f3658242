"""Unit tests for the pipeline operators the oracle exercises only at
corpus level: connected-components corner graphs, the shared graph
kernels on hand graphs (the fixture name graph has no triangle and an
empty 3-core, so the oracle cannot tell a wrong triangle or peel kernel
from a right one), and the deterministic sampler's structural
guarantees (partition independence, nesting)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prometheus_clickhouselog_exporter_spark.operators.dedup import (
    connected_components,
    connected_components_star,
    min_label_rounds,
)
from prometheus_clickhouselog_exporter_spark.operators.sampling import (
    deterministic_sample,
    hash_bucket,
    stratified_sample,
)
from prometheus_clickhouselog_exporter_spark.workloads.core import (
    kcore_rounds,
    name_graph,
    triangles,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs_sf001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a bigint, id_b bigint")


def test_cc_chain_merges_transitively(spark):
    # A-B, B-C, C-D: one component although A never pairs with D —
    # diameter 3 forces multiple propagation rounds.
    labels = {
        r["id"]: r["comp"]
        for r in connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)])).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cc_multiple_components_and_reversed_edges(spark):
    labels = {
        r["id"]: r["comp"]
        for r in connected_components(
            _pairs(spark, [(5, 9), (9, 5), (7, 6), (10, 10), (12, 11)])
        ).collect()
    }
    assert labels == {5: 5, 9: 5, 6: 6, 7: 6, 10: 10, 11: 11, 12: 11}


def test_cc_long_chain_needs_iterations(spark):
    # 1-2-3-...-12 linear chain: min label must walk 11 hops.
    n = 12
    edges = [(i, i + 1) for i in range(1, n)]
    labels = connected_components(_pairs(spark, edges))
    assert labels.filter(F.col("comp") == 1).count() == n


def test_cc_star_matches_hash_to_min(spark):
    # chain + clique + singletons-pair mix; both algorithms must agree.
    edges = (
        [(i, i + 1) for i in range(1, 20)]           # 19-chain
        + [(100, 101), (101, 102), (100, 102)]        # triangle
        + [(200, 201)]
        + [(i, i + 1) for i in range(300, 364)]       # 64-chain
    )
    a = {
        (r["id"], r["comp"]) for r in connected_components(_pairs(spark, edges), max_iter=100).collect()
    }
    b = {(r["id"], r["comp"]) for r in connected_components_star(_pairs(spark, edges)).collect()}
    assert a == b
    assert (300, 300) in b and (363, 300) in b  # long chain fully collapsed


def test_cc_star_round_count_logarithmic(spark):
    # The 64-chain must converge in far fewer star rounds than its
    # diameter — exercised implicitly (max_iter=30 default < 63 hops).
    labels = connected_components_star(_pairs(spark, [(i, i + 1) for i in range(1, 65)]))
    assert labels.filter(F.col("comp") == 1).count() == 65  # nodes 1..65


def test_cc_caps_fail_loud(spark):
    # 7-chain: hash-to-min needs 7 rounds (6 hops + 1 unchanged), the
    # star loop at least 2 (one to move, one to see nothing move). A cap
    # below that is an error, never a partial labelling.
    chain = _pairs(spark, [(i, i + 1) for i in range(1, 7)])
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(chain, max_iter=2)
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components_star(chain, max_iter=1)


def _sym_edges(spark, edges, id_type):
    both = edges + [(b, a) for a, b in edges]
    return spark.createDataFrame(both, f"src {id_type}, dst {id_type}")


def test_min_label_rounds_truncates_at_rounds(spark):
    # 1-2-3-4 at rounds=2: the min walks exactly two hops, so node 4
    # still carries node 2's label — the truncation the fixed-round
    # oracles replay.
    e = _sym_edges(spark, [(1, 2), (2, 3), (3, 4)], "bigint")
    seed = spark.createDataFrame([(i, i) for i in range(1, 5)], "id bigint, label bigint")
    out = min_label_rounds(e, seed, 2)
    assert out.columns == ["id", "label"]
    assert {r["id"]: r["label"] for r in out.collect()} == {1: 1, 2: 1, 3: 1, 4: 2}


def test_min_label_rounds_string_ids_and_isolated_seed(spark):
    # string ids order lexicographically; "z" has no edge and keeps its
    # own label
    e = _sym_edges(spark, [("b", "c"), ("a", "b")], "string")
    seed = spark.createDataFrame(
        [(n, n) for n in ("a", "b", "c", "z")], "id string, label string"
    )
    got = {r["id"]: r["label"] for r in min_label_rounds(e, seed, 3).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_min_label_rounds_weight_relaxes_min_plus(spark):
    # s-a-t costs 1+1, the direct s-t edge 3; u has no edge. One round
    # only sees the direct edge; two find the cheaper two-hop path. The
    # unreachable node keeps its 999 seed. weight=1 counts hops instead.
    path = [("s", "a", 1), ("a", "t", 1), ("s", "t", 3)]
    e = spark.createDataFrame(
        path + [(b, a, w) for a, b, w in path], "src string, dst string, w int"
    )
    seed = spark.createDataFrame(
        [("s", 0), ("a", 999), ("t", 999), ("u", 999)], "id string, label int"
    )

    def dist(rounds, weight):
        out = min_label_rounds(e, seed, rounds, weight=weight)
        return {r["id"]: r["label"] for r in out.collect()}

    assert dist(1, F.col("w")) == {"s": 0, "a": 1, "t": 3, "u": 999}
    assert dist(2, F.col("w")) == {"s": 0, "a": 1, "t": 2, "u": 999}
    assert dist(2, F.lit(1)) == {"s": 0, "a": 1, "t": 1, "u": 999}


def _oriented(spark, edges, id_type="bigint"):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], f"src {id_type}, dst {id_type}"
    )


_K4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]


def test_triangles_k4_plus_pendant(spark):
    # exactly the four a<b<c triangles of the K4, none repeated; the
    # pendant edge closes none
    rows = [tuple(r) for r in triangles(_oriented(spark, _K4 + [(4, 5)])).collect()]
    assert sorted(rows) == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_triangles_four_cycle_has_none(spark):
    assert triangles(_oriented(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])).count() == 0


def test_kcore_rounds_peels_synchronously(spark):
    # K4 on a-d (degree 3 each, d 4), tendril d-e-f, isolated z; k=3.
    # Round 1 drops e (degree 2) and f (degree 1) together and z (no
    # edge); the K4 is the fixpoint.
    name = "abcd"
    edges = [(name[a - 1], name[b - 1]) for a, b in _K4] + [("d", "e"), ("e", "f")]
    nodes = spark.createDataFrame([(n,) for n in "abcdefz"], "id string")
    frames = kcore_rounds(_oriented(spark, edges, "string"), nodes, 3, 2)
    assert len(frames) == 3 and frames[0] is nodes
    ids = [sorted(r["id"] for r in f.collect()) for f in frames]
    assert ids == [list("abcdefz"), list("abcd"), list("abcd")]


def _levenshtein(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_name_graph_contract(spark):
    # symmetric, loop-free, w = levenshtein in {1, 2}, endpoints in one
    # block — and every such same-block pair present
    nm, e = name_graph(spark, SF_DIR)
    blk = {r["p_name"]: r["blk"] for r in nm.collect()}
    assert len(blk) == nm.count()
    assert all(b == n.split(" ")[1] for n, b in blk.items())
    w = {(r["src"], r["dst"]): r["w"] for r in e.collect()}
    assert e.count() == len(w) > 0
    for (a, b), wt in w.items():
        assert w.get((b, a)) == wt
        assert a != b and blk[a] == blk[b]
        assert wt == _levenshtein(a, b) and wt in (1, 2)
    assert set(w) == {
        (a, b)
        for a in blk
        for b in blk
        if a != b and blk[a] == blk[b] and _levenshtein(a, b) <= 2
    }


def test_sample_partition_independent(spark, docs_sf001):
    # Same rows kept no matter how the input is partitioned — the property
    # df.sample() does NOT have.
    base = deterministic_sample(docs_sf001, "text", 0.3).select("doc_id")
    shuffled = deterministic_sample(docs_sf001.repartition(13), "text", 0.3).select("doc_id")
    assert sorted(r["doc_id"] for r in base.collect()) == sorted(
        r["doc_id"] for r in shuffled.collect()
    )


def test_sample_nested_fractions(spark, docs_sf001):
    # The 10% sample is a subset of the 30% sample (same key): scaling-law
    # subsample chains stay consistent.
    small = {r["doc_id"] for r in deterministic_sample(docs_sf001, "text", 0.1).select("doc_id").collect()}
    large = {r["doc_id"] for r in deterministic_sample(docs_sf001, "text", 0.3).select("doc_id").collect()}
    assert small <= large
    assert len(small) < len(large)


def test_stratified_fractions_apply_per_stratum(spark, docs_sf001):
    kept = stratified_sample(
        docs_sf001, "text", "lang", {"en": 0.0}, default_fraction=1.0
    )
    by_lang = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "en" not in by_lang  # en fully dropped
    totals = {
        r["lang"]: r["n"]
        for r in docs_sf001.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in by_lang.items():
        assert n == totals[lang]  # everything else fully kept


def test_hash_bucket_matches_python_md5(spark):
    import hashlib

    df = spark.createDataFrame([("hello world",)], "k string")
    got = df.select(hash_bucket(F.col("k")).alias("b")).collect()[0]["b"]
    assert got == int(hashlib.md5(b"hello world").hexdigest()[:8], 16) % 10_000
