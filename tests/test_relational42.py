"""Round 8 batch 9: connected components, MDE, LTTB downsampling."""

from __future__ import annotations

import math

from prometheus_clickhouselog_exporter_spark.workloads import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_connected_components_match_union_find(spark):
    """4 min-label rounds must reach the TRUE fixpoint: compare the
    census against a driver-side union-find over the same edge list."""
    from prometheus_clickhouselog_exporter_spark.workloads.core import name_graph

    nm, e = name_graph(spark, SF_DIR)
    nodes = [r.p_name for r in nm.select("p_name").collect()]
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in e.select("src", "dst").collect():
        ra, rb = find(r.src), find(r.dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {}
    for n in nodes:
        expect.setdefault(find(n), []).append(n)
    truth = {min(v): len(v) for v in expect.values()}
    got = {
        r.component: r.n_members
        for r in QUERIES["graph_connected_components"](spark, SF_DIR).collect()
    }
    assert got == truth


def test_mde_shrinks_with_more_data(spark):
    """MDE at 10x the data must be ~sqrt(10) smaller (same design)."""
    r1 = QUERIES["stats_power_mde"](spark, SF_DIR).collect()[0]
    r2 = QUERIES["stats_power_mde"](spark, "/root/testdata/sf0.01").collect()[0]
    assert r1.mde_cents > 0 and r2.mde_cents > 0
    ratio = r1.mde_cents / r2.mde_cents
    assert 2.0 < ratio < 5.0  # sqrt(10) ~ 3.16 within variance noise
    assert r1.pooled_std_cents > 0
    assert 0 < r1.mde_relative < 10


def test_lttb_selects_one_point_per_bucket(spark):
    rows = QUERIES["timeseries_lttb_downsample"](spark, SF_DIR).collect()
    assert len(rows) == 30
    assert [r.bkt for r in rows] == list(range(30))
    xs = [r.x for r in rows]
    # buckets partition the time axis, so chosen x is nondecreasing
    # across buckets (ties allowed at second-resolution boundaries)
    for a, b in zip(xs, xs[1:]):
        assert a <= b
    lo, hi = min(xs), max(xs)
    assert lo < hi
    # edge buckets keep their earliest point deterministically
    import pyspark.sql.functions as F

    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").alias("x"))
        .agg(F.min("x"), F.max("x"))
        .collect()[0]
    )
    span = ev[1] - ev[0] + 1
    for r in rows:
        assert r.bkt == min(int((r.x - ev[0]) * 30 // span), 29)
