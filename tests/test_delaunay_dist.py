"""Distributed Delaunay / Borůvka EMST / unbounded Gabriel-RNG — the
round-2 scale-path operators, checked against driver-path and brute-force
numpy oracles (reference oracle pattern: tests/test_proximity.py:116-148).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from city2graph_spark.operators.proximity import (
    _delaunay_driver,
    delaunay_graph,
    delaunay_graph_distributed,
    euclidean_minimum_spanning_tree,
    gabriel_graph,
    relative_neighborhood_graph,
)
from city2graph_spark.operators.topology import minimum_spanning_forest


def _df(spark, pts):
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(rows, "node_id long, x double, y double")


@pytest.fixture(scope="module")
def uniform_df(spark):
    rng = np.random.default_rng(7)
    pts = rng.random((1200, 2)) * 5000
    return _df(spark, pts), pts


@pytest.fixture(scope="module")
def gapped_df(spark):
    """Two tight clusters separated by a 1900m void + lone mid points —
    the adversarial shape for halo certification and radius bounds."""
    rng = np.random.default_rng(5)
    a = rng.random((60, 2)) * 100
    b = rng.random((60, 2)) * 100 + [2000.0, 0.0]
    c = np.array([[1000.0, 900.0]])
    pts = np.vstack([a, b, c])
    return _df(spark, pts), pts


def test_distributed_delaunay_matches_driver(uniform_df):
    df, _ = uniform_df
    dist = {(r.u, r.v) for r in
            delaunay_graph_distributed(df, tile_points=200).collect()}
    drv = {(r.u, r.v) for r in _delaunay_driver(df).collect()}
    assert dist == drv and len(dist) > 3000


def test_distributed_delaunay_gapped_boundary_pass(gapped_df):
    """The long cross-gap edges have domain-scale circumcircles: their
    vertices are unsettled in every tile and must be recovered exactly by
    the verified DT(U) boundary pass."""
    df, _ = gapped_df
    dist = {(r.u, r.v) for r in
            delaunay_graph_distributed(df, tile_points=40).collect()}
    drv = {(r.u, r.v) for r in _delaunay_driver(df).collect()}
    assert dist == drv


def test_delaunay_dispatch_past_old_cap(spark):
    """> driver_switch routes to the distributed path (the 200k hard cap is
    gone); Euler bound sanity on the result."""
    n = 30_000
    ids = np.arange(n)
    x = ((ids * 1103515245 + 12345) % 5000000) / 1000.0
    y = ((ids * 69069 + 362437) % 5000000) / 1000.0
    df = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(ids, x, y)],
        "node_id long, x double, y double")
    e = delaunay_graph(df, driver_switch=20_000, tile_points=2000)
    cnt = e.count()
    assert n < cnt <= 3 * n - 6


def test_delaunay_cocircular_guard(spark):
    """Adversarially degenerate input (all points on one circle) makes the
    unsettled boundary set U = n; the boundary-cap guard must fail loudly
    instead of silently gathering the whole problem to the driver."""
    n = 1500
    ang = 2 * np.pi * np.arange(n) / n
    pts = np.column_stack([50_000 + 40_000 * np.cos(ang),
                           50_000 + 40_000 * np.sin(ang)])
    df = _df(spark, pts)
    with pytest.raises(ValueError, match="boundary set"):
        delaunay_graph_distributed(df, tile_points=100, boundary_cap=300)


def test_boruvka_matches_kruskal(uniform_df):
    df, _ = uniform_df
    kr = euclidean_minimum_spanning_tree(df).collect()
    bo = minimum_spanning_forest(_delaunay_driver(df)).collect()
    assert len(kr) == len(bo) == 1199
    assert abs(sum(r.weight for r in kr) - sum(r.weight for r in bo)) < 1e-6


def test_boruvka_duplicate_edge_keeps_lighter(spark):
    """A (u, v) pair given twice — heavier copy first — enters the forest
    with its lighter weight, whatever order the rows arrive in."""
    edges = spark.createDataFrame(
        [(0, 1, 5.0), (1, 2, 2.0), (0, 1, 1.0), (0, 2, 3.0)],
        "u long, v long, weight double").coalesce(1)
    got = {(r.u, r.v): r.weight
           for r in minimum_spanning_forest(edges).collect()}
    assert got == {(0, 1): 1.0, (1, 2): 2.0}


def test_emst_distributed_dispatch(gapped_df):
    df, pts = gapped_df
    # force the distributed path (delaunay tiles + Borůvka)
    bo = euclidean_minimum_spanning_tree(df, driver_switch=10,
                                         tile_points=40).collect()
    kr = euclidean_minimum_spanning_tree(df).collect()
    assert len(bo) == len(pts) - 1
    assert abs(sum(r.weight for r in bo) - sum(r.weight for r in kr)) < 1e-6


def _brute_gabriel(pts):
    n = len(pts)
    out = set()
    for i in range(n):
        for j in range(i + 1, n):
            w = np.delete(np.arange(n), [i, j])
            dots = ((pts[i, 0] - pts[w, 0]) * (pts[j, 0] - pts[w, 0])
                    + (pts[i, 1] - pts[w, 1]) * (pts[j, 1] - pts[w, 1]))
            if not (dots < 0).any():
                out.add((i, j))
    return out


def _brute_rng(pts):
    eps = 2.220446049250313e-16
    n = len(pts)
    out = set()
    for i in range(n):
        for j in range(i + 1, n):
            w = np.delete(np.arange(n), [i, j])
            dots = ((pts[i, 0] - pts[w, 0]) * (pts[j, 0] - pts[w, 0])
                    + (pts[i, 1] - pts[w, 1]) * (pts[j, 1] - pts[w, 1]))
            d2 = ((pts[i] - pts[j]) ** 2).sum()
            thr = d2 - eps * 64.0 * max(d2, 1.0)
            du2 = ((pts[w] - pts[i]) ** 2).sum(axis=1)
            dv2 = ((pts[w] - pts[j]) ** 2).sum(axis=1)
            if not ((dots < 0) | ((du2 < thr) & (dv2 < thr))).any():
                out.add((i, j))
    return out


def test_gabriel_rng_unbounded_exact_on_gapped(gapped_df):
    """The round-1 bounded variant provably misses cross-gap edges; the
    default (r_cand=None) contract must match the brute-force definition on
    ANY input — including the 1900m empty-disc pair."""
    df, pts = gapped_df
    want_g = _brute_gabriel(pts)
    got_g = {(r.u, r.v) for r in gabriel_graph(df).collect()}
    assert got_g == want_g
    # at least one inter-cluster Gabriel edge exists and exceeds any
    # density-scale radius bound
    long_edges = {(u, v) for (u, v) in want_g
                  if abs(pts[u, 0] - pts[v, 0]) > 800}
    assert long_edges and long_edges <= got_g
    # the bounded kernel (r_cand=300) misses them — the documented bound
    got_bounded = {(r.u, r.v)
                   for r in gabriel_graph(df, r_cand=300.0).collect()}
    assert not (long_edges & got_bounded)
    assert got_bounded <= want_g

    want_r = _brute_rng(pts)
    got_r = {(r.u, r.v) for r in relative_neighborhood_graph(df).collect()}
    assert got_r == want_r
    assert got_r <= got_g
