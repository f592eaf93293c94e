"""Distributed (tiled) buffered-union enclosure build vs the driver pass.

The tiled build (operators/enclosures.py) must reproduce the driver
arrangement's enclosure set exactly (up to collinear tile-border residue,
stripped on both sides here): same count, same (minx, miny, |area|, n_rings)
multiset.  Fixtures cover the shapes that broke naive designs: nested
island faces (a rep-point classifier miskeeps uncovered block interiors),
1-unit gaps between stacked rows (an epsilon-offset probe jumps them),
street loops (holed enclosures), pure scatter with no barriers, and
cross-tile blobs.
"""

import collections

import numpy as np
import pytest

from city2graph_spark.geo.kernels import rings_net_area
from city2graph_spark.operators.enclosures import (
    _strip_collinear, enclosures_union_distributed)
from city2graph_spark.operators.tessellation import (
    build_enclosures_limited, buffered_union_shapes, enclosed_tessellation)


def _canon_driver(encl):
    out = []
    for _eid, rl in encl:
        rl = rl if isinstance(rl, list) else [rl]
        rl2 = [_strip_collinear(np.asarray(r), 1e-4) for r in rl]
        ext = rl2[0]
        out.append((round(float(ext[:, 0].min()), 4),
                    round(float(ext[:, 1].min()), 4),
                    round(abs(rings_net_area(list(rl2))), 3), len(rl2)))
    return sorted(out)


def _canon_dist(rows):
    by_eid = collections.defaultdict(dict)
    for r in rows:
        by_eid[r["eid"]].setdefault(r["ring"], []).append(
            (r["seq"], r["x"], r["y"]))
    out = []
    for _eid, rings in by_eid.items():
        rl = [np.array([(x, y) for _, x, y in sorted(rings[ri])])
              for ri in sorted(rings)]
        rl2 = [_strip_collinear(r, 1e-4) for r in rl]
        ext = rl2[0]
        out.append((round(float(ext[:, 0].min()), 4),
                    round(float(ext[:, 1].min()), 4),
                    round(abs(rings_net_area(list(rl2))), 3), len(rl2)))
    return sorted(out)


def _compare(spark, segs, rects_np, buf, ts):
    caps = buffered_union_shapes(np.empty((0, 4)), segs, buf)
    shapes = [np.array([[r[0], r[1]], [r[2], r[1]],
                        [r[2], r[3]], [r[0], r[3]]]) for r in rects_np]
    encl_driver = build_enclosures_limited(segs, shapes + caps)
    rects_df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d))
         for a, b, c, d in rects_np],
        "bx0 double, by0 double, bx1 double, by1 double")
    rows = enclosures_union_distributed(
        rects_df, caps, segs, tile_size=ts).collect()
    a, b = _canon_driver(encl_driver), _canon_dist(rows)
    assert a == b, (f"driver={len(a)} dist={len(b)}\n"
                    f"driver-only={sorted(set(a) - set(b))[:5]}\n"
                    f"dist-only={sorted(set(b) - set(a))[:5]}")
    return len(a)


def test_scattered_no_barriers(spark):
    rng = np.random.default_rng(11)
    n = 60
    bx = rng.uniform(0, 1000, n)
    by = rng.uniform(0, 800, n)
    w = rng.uniform(5, 20, n)
    h = rng.uniform(5, 20, n)
    buf = 15.0
    rects = np.column_stack([bx - buf, by - buf, bx + w + buf, by + h + buf])
    n_encl = _compare(spark, np.empty((0, 4)), rects, buf, 120.0)
    assert n_encl > 10          # mostly isolated blobs


def test_street_cross_scattered(spark):
    rng = np.random.default_rng(7)
    segs = np.array([[0., 50., 300., 50.], [150., -50., 150., 200.]])
    n = 40
    bx = rng.uniform(-50, 350, n)
    by = rng.uniform(-80, 180, n)
    w = rng.uniform(5, 15, n)
    h = rng.uniform(5, 15, n)
    buf = 20.0
    rects = np.column_stack([bx - buf, by - buf, bx + w + buf, by + h + buf])
    _compare(spark, segs, rects, buf, 60.0)


def test_street_loop_holed_enclosure(spark):
    # street loop ⇒ the in-union band inside the loop is a HOLED enclosure;
    # the uncovered middle must be dropped by BOTH paths (the nested-island
    # miskeep this fixture originally exposed)
    segs = np.array([[100., 100., 400., 100.], [400., 100., 400., 350.],
                     [400., 350., 100., 350.], [100., 350., 100., 100.]])
    bx = np.array([150., 250., 320., 50., 450., 250.])
    by = np.array([150., 200., 280., 50., 380., 30.])
    w = np.full(6, 18.)
    h = np.full(6, 12.)
    buf = 30.0
    rects = np.column_stack([bx - buf, by - buf, bx + w + buf, by + h + buf])
    _compare(spark, segs, rects, buf, 90.0)


def test_rowed_one_unit_gaps(spark):
    # stacked rows with 1-unit buffered gaps: an epsilon-offset probe jumps
    # the gap and merges whole columns — the exact side test must not
    rng = np.random.default_rng(11)
    rows_y = np.repeat(np.arange(0, 200, 40.0), 10)
    rows_x = np.tile(np.arange(0, 500, 50.0), 5)
    sx = rng.uniform(600, 1200, 30)
    sy = rng.uniform(0, 300, 30)
    bx = np.concatenate([rows_x, sx])
    by = np.concatenate([rows_y, sy])
    w = np.full(len(bx), 20.)
    h = np.full(len(bx), 15.)
    buf = 12.0
    rects = np.column_stack([bx - buf, by - buf, bx + w + buf, by + h + buf])
    segs = np.array([[550., -50., 550., 350.], [0., 250., 1300., 250.]])
    n_encl = _compare(spark, segs, rects, buf, 75.0)
    assert n_encl >= 50         # the 50 rowed buildings stay separate


def test_cross_tile_blob_single_enclosure(spark):
    # one blob spanning a 4-tile corner ⇒ exactly one enclosure
    rects = np.column_stack([[-60.], [-60.], [60.], [60.]])
    n_encl = _compare(spark, np.empty((0, 4)), rects, 0.0, 50.0)
    assert n_encl == 1


def _mk_building_verts(spark, bx, by, w, h):
    rows = []
    for pid, (x, y, wi, hi) in enumerate(zip(bx, by, w, h)):
        for i, (px, py) in enumerate([(x, y), (x + wi, y),
                                      (x + wi, y + hi), (x, y + hi)]):
            rows.append((pid, 0, i, float(px), float(py)))
    return spark.createDataFrame(
        rows, "poly_id long, ring long, seq long, x double, y double")


def _mk_mv(spark, segs):
    rows = []
    for mid, s in enumerate(segs):
        rows.append((mid, 0, float(s[0]), float(s[1])))
        rows.append((mid, 1, float(s[2]), float(s[3])))
    return spark.createDataFrame(
        rows, "movement_id long, seq long, x double, y double")


def test_end_to_end_distributed_matches_driver(spark):
    """Full enclosed_tessellation: the tiled build (union_driver_cap=0)
    must produce the same cell multiset (per-place areas) as the driver
    union build.

    The street network is a connected grid (ring + cross, every vertex
    degree ≥ 2): dead-end street arms are dangle-pruned into in-enclosure
    spur walls, whose cancellation feeds the documented Sutherland–Hodgman
    bridge degeneracy in the Voronoi clip — a pre-existing driver-path
    behavior, orthogonal to the distribution (the enclosure SETS still
    match exactly on such fixtures, see the cases above)."""
    rng = np.random.default_rng(3)
    ring = [(0., 0.), (400., 0.), (400., 260.), (0., 260.)]
    segs_l = []
    for i in range(4):
        a, b = ring[i], ring[(i + 1) % 4]
        segs_l.append([a[0], a[1], b[0], b[1]])
    segs_l.append([0., 130., 400., 130.])      # cross bar, T-junctions on ring
    segs_l.append([200., 0., 200., 260.])
    segs = np.array(segs_l)
    n = 14
    bx = rng.uniform(10, 380, n)
    by = rng.uniform(10, 240, n)
    w = rng.uniform(8, 18, n)
    h = rng.uniform(8, 14, n)
    bv = _mk_building_verts(spark, bx, by, w, h)
    mv = _mk_mv(spark, segs)

    def cells_key(df):
        rows = df.collect()
        by_cell = collections.defaultdict(dict)
        for r in rows:
            k = (r["enclosure_index"], r["place_id"])
            by_cell[k].setdefault(r["ring"], []).append(
                (r["seq"], r["x"], r["y"]))
        out = collections.defaultdict(list)
        for (eid, pid), rings in by_cell.items():
            rl = [np.array([(x, y) for _, x, y in sorted(rings[ri])])
                  for ri in sorted(rings)]
            out[pid].append(round(abs(rings_net_area(rl)), 2))
        return {pid: sorted(v) for pid, v in out.items()}

    drv = cells_key(enclosed_tessellation(bv, mv, buffer=25.0))
    dst = cells_key(enclosed_tessellation(bv, mv, buffer=25.0,
                                          union_driver_cap=0))
    # per-place cell areas must agree; empty enclosures (pid −1) compared
    # as a multiset too
    assert set(drv) == set(dst)
    for pid in drv:
        assert drv[pid] == pytest.approx(dst[pid], abs=0.05), pid
