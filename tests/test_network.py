"""Bipartite kNN, bridge_nodes, broadcast SSSP, network metric, X2 bands."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from city2graph_spark.operators.bipartite import (
    bridge_nodes,
    fixed_radius_bipartite,
    knn_graph_bipartite,
)
from city2graph_spark.operators.net import (
    BroadcastGraph,
    add_metapaths_by_weight,
    filter_graph_by_distance,
    network_knn_graph,
    snap_points,
)


@pytest.fixture(scope="module")
def layers(spark):
    rng = np.random.default_rng(11)
    a = rng.uniform(0, 1000, (40, 2))
    b = rng.uniform(0, 1000, (25, 2))
    df_a = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(a)],
        "node_id long, x double, y double")
    df_b = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(b)],
        "node_id long, x double, y double")
    return df_a, df_b, a, b


def test_bipartite_knn_exact(layers):
    df_a, df_b, a, b = layers
    for cell in (100.0, 2000.0, 20.0):  # certified / single-block / retry paths
        got = {(r.src, r.dst) for r in
               knn_graph_bipartite(df_a, df_b, 3, cell_size=cell).collect()}
        d = np.sqrt(((a[:, None, :] - b[None, :, :]) ** 2).sum(-1))
        want = {(i, int(j)) for i in range(len(a))
                for j in np.lexsort((np.arange(len(b)), d[i]))[:3]}
        assert got == want, f"cell={cell}"


def test_bipartite_knn_negative_dst_ids(spark, layers):
    """Candidate-less probes are flagged by an infinite weight, never by a
    reserved id: a dst layer with negative ids (-1 included) stays exact on
    the certified, retry and residual paths."""
    df_a, _, a, b = layers
    bid = -1 - np.arange(len(b))
    df_b = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in zip(bid, b)],
        "node_id long, x double, y double")
    d = np.sqrt(((a[:, None, :] - b[None, :, :]) ** 2).sum(-1))
    want = {(i, int(bid[j])) for i in range(len(a))
            for j in np.lexsort((bid, d[i]))[:3]}
    for cell in (100.0, 2000.0, 20.0):
        got = {(r.src, r.dst) for r in
               knn_graph_bipartite(df_a, df_b, 3, cell_size=cell).collect()}
        assert got == want, f"cell={cell}"


def test_bipartite_knn_hot_block_salting(spark):
    """The bipartite mode shares the self mode's skew guard: multi-salt
    splits of a dense src/dst cluster leave the exact edge set unchanged."""
    from city2graph_spark.operators.proximity import _knn_join
    rng = np.random.default_rng(17)
    src = np.vstack([rng.random((300, 2)) * 50.0 + 2000.0,
                     rng.random((60, 2)) * 5000.0])
    dst = np.vstack([rng.random((200, 2)) * 50.0 + 2000.0,
                     rng.random((60, 2)) * 5000.0])
    df_s, df_d = (spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(p)],
        "node_id long, x double, y double") for p in (src, dst))

    def run(**kw):
        return {(r.src, r.dst) for r in _knn_join(
            df_s, df_d, 4, self_join=False, cell_size=500.0,
            metric="euclidean", **kw).collect()}

    base = run()
    assert run(salt_target=50) == base
    d = np.sqrt(((src[:, None, :] - dst[None, :, :]) ** 2).sum(-1))
    assert base == {(i, int(j)) for i in range(len(src))
                    for j in np.lexsort((np.arange(len(dst)), d[i]))[:4]}


def test_bipartite_radius(layers):
    df_a, df_b, a, b = layers
    got = {(r.src, r.dst) for r in
           fixed_radius_bipartite(df_a, df_b, 150.0).collect()}
    d = np.sqrt(((a[:, None, :] - b[None, :, :]) ** 2).sum(-1))
    want = {(i, j) for i in range(len(a)) for j in range(len(b))
            if d[i, j] <= 150.0}
    assert got == want


def test_bridge_nodes_keys(layers):
    df_a, df_b, *_ = layers
    out = bridge_nodes({"building": df_a, "road": df_b}, k=1, cell_size=300.0)
    assert set(out) == {("building", "is_nearby", "road"),
                        ("road", "is_nearby", "building")}
    assert out[("building", "is_nearby", "road")].count() == 40
    assert out[("road", "is_nearby", "building")].count() == 25


@pytest.fixture(scope="module")
def street(spark):
    # path graph 0-1-2-3-4 with unit-ish weights + spur 2-5
    nodes = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 100.0, 0.0), (2, 200.0, 0.0),
         (3, 300.0, 0.0), (4, 400.0, 0.0), (5, 200.0, 100.0)],
        "node_id long, x double, y double")
    edges = spark.createDataFrame(
        [(0, 1, 100.0), (1, 2, 100.0), (2, 3, 100.0), (3, 4, 100.0),
         (2, 5, 100.0)],
        "src long, dst long, weight double")
    return nodes, edges


def test_sssp_and_filter(street):
    nodes, edges = street
    g = BroadcastGraph.from_df(edges)
    costs = g.sssp([0])
    assert costs == {0: 0.0, 1: 100.0, 2: 200.0, 3: 300.0, 4: 400.0, 5: 300.0}
    assert g.sssp([0], cutoff=250.0) == {0: 0.0, 1: 100.0, 2: 200.0}
    kept = {(r.src, r.dst) for r in
            filter_graph_by_distance(nodes, edges, (10.0, 5.0), 300.0).collect()}
    assert kept == {(0, 1), (1, 2), (2, 3), (2, 5)}


def test_snap_and_network_knn(spark, street):
    nodes, edges = street
    pts = spark.createDataFrame(
        [(100, 1.0, 1.0), (101, 99.0, 2.0), (102, 401.0, -1.0), (103, 201.0, 99.0)],
        "node_id long, x double, y double")
    snaps = {r.node_id: r.snap_node for r in
             snap_points(pts, nodes, cell_size=500.0).collect()}
    assert snaps == {100: 0, 101: 1, 102: 4, 103: 5}
    got = {(r.src, r.dst): r.weight for r in
           network_knn_graph(pts, 1, nodes, edges).collect()}
    # 100(snap 0) nearest other point: 101 (snap 1, cost 100)
    assert got[(100, 101)] == 100.0
    # 103 (snap 5): costs — to 0:300, 1:200, 4:300 → nearest 101 (200)
    assert got[(101, 103)] == 200.0


def test_metapaths_by_weight(spark, street):
    _, edges = street
    endpoints = spark.createDataFrame([(0,), (3,), (5,)], "node_id long")
    got = {(r.src, r.dst): r.weight for r in
           add_metapaths_by_weight(edges, endpoints,
                                   threshold=300.0, min_threshold=150.0).collect()}
    assert got == {(0, 3): 300.0, (0, 5): 300.0, (3, 5): 200.0}
