"""tilemath parity vs reference-derived vectors.

Anchors: the Bing quadkey spec example, the 237 dc golden quadkeys
(/root/reference/test/fixture/dc.z12-grid-quadkeys.txt), and the fixture
tiles named in /root/reference/test/lib/{aggregate-cells,degenerate}.js.
"""

import math
import os

import numpy as np
import pytest

from vt_grid_spark import tilemath as tm

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def test_quadkey_bing_anchor():
    # public Bing tile-system example: tile (x=3, y=5, z=3) -> "213"
    assert tm.tile_to_quadkey(3, 5, 3) == "213"
    assert tm.quadkey_to_tile("213") == (3, 5, 3)


def test_quadkey_roundtrip_vectorized():
    rng = np.random.default_rng(42)
    z = 15
    xs = rng.integers(0, 1 << z, 1000)
    ys = rng.integers(0, 1 << z, 1000)
    qks = tm.tile_to_quadkey(xs, ys, z)
    for x, y, qk in zip(xs, ys, qks):
        assert tm.quadkey_to_tile(qk) == (x, y, z)
        # parent = prefix (the pyramid invariant, aggregate-cells.js:31-32)
        px, py, pz = tm.parent(int(x), int(y), z)
        assert tm.tile_to_quadkey(px, py, pz) == qk[:-1]
    # array input keeps its shape and yields object-dtype str equal to the
    # scalar path's, z == 0 included
    grid = tm.tile_to_quadkey(xs.reshape(20, 50), ys.reshape(20, 50), z)
    assert grid.shape == (20, 50) and grid.dtype == object
    assert grid.ravel().tolist() == [tm.tile_to_quadkey(int(x), int(y), z)
                                     for x, y in zip(xs, ys)]
    top = tm.tile_to_quadkey(np.zeros(3, np.int64), np.zeros(3, np.int64), 0)
    assert top.dtype == object and top.tolist() == ["", "", ""]


def test_dc_golden_quadkeys_decode_to_dc():
    with open(os.path.join(FIXTURES, "dc.z12-grid-quadkeys.txt")) as f:
        keys = [l.strip() for l in f if l.strip()]
    assert len(keys) == 237
    for qk in keys:
        assert len(qk) == 15
        x, y, z = tm.quadkey_to_tile(qk)
        w, s, e, n = tm.tile_to_bbox(x, y, z)
        # all golden cells sit in the DC-area bbox of the fixture polygons
        assert -77.35 < w < -76.7 and 38.7 < s < 39.1
        assert tm.tile_to_quadkey(x, y, z) == qk


def test_point_to_tile_roundtrip_center():
    z = 14
    x, y = 9631, 8139  # fixture tile, test/lib/aggregate-cells.js:16
    w, s, e, n = tm.tile_to_bbox(x, y, z)
    cx, cy = tm.point_to_tile((w + e) / 2, (s + n) / 2, z)
    assert (int(cx), int(cy)) == (x, y)
    # corners: NW corner belongs to the tile (half-open intervals)
    cx, cy = tm.point_to_tile(w, n, z)
    assert (int(cx), int(cy)) == (x, y)


def test_z0_bbox():
    w, s, e, n = tm.tile_to_bbox(0, 0, 0)
    assert w == -180.0 and e == 180.0
    assert abs(float(n) - tm.MERCATOR_MAX_LAT) < 1e-9
    assert abs(float(s) + tm.MERCATOR_MAX_LAT) < 1e-9


def test_progeny_dense_square():
    xs, ys = tm.progeny(9631, 8139, 14, 19)
    assert len(xs) == 4 ** 5 == 1024  # test/lib/aggregate-cells.js:17,22
    assert xs.min() == 9631 << 5 and xs.max() == (9632 << 5) - 1
    # every progeny's ancestor at z14 is the original tile
    assert np.all(xs >> 5 == 9631) and np.all(ys >> 5 == 8139)
    # quadkeys of progeny all share the parent prefix
    pqk = tm.tile_to_quadkey(9631, 8139, 14)
    qks = tm.tile_to_quadkey(xs[:8], ys[:8], 19)
    for qk in qks:
        assert qk.startswith(pqk)


def test_children_parent_inverse():
    for cx, cy, cz in tm.children(9631, 8139, 14):
        assert tm.parent(cx, cy, cz) == (9631, 8139, 14)


def test_grid_zoom_bookkeeping():
    # gridsize = cells per output tile = 4^d (reference lib/aggregate.js:38-41)
    assert tm.grid_zoom(12, 64) == 15   # dc e2e: z12 level -> z15 cells
    assert tm.grid_zoom(14, 1024) == 19  # bench config
    with pytest.raises(ValueError):
        tm.grid_zoom(10, 32)  # not a power of 4


def test_ancestors_and_neighbors():
    anc = tm.ancestors(9631, 8139, 14, minzoom=10)
    assert [a[2] for a in anc] == [13, 12, 11, 10]
    assert anc[0] == (9631 >> 1, 8139 >> 1, 13)
    nb = tm.neighbors(0, 5, 4, ring=1)
    assert len(nb) == 9
    assert ((1 << 4) - 1, 5, 4) in nb  # x wraps around the antimeridian


def test_mercator_lat_formula_matches_inverse():
    # y(lat(y)) == y for fractional y values
    for z in (4, 10, 16):
        yf = np.linspace(0.25, (1 << z) - 0.25, 50)
        lat = tm.tile_to_lat(yf, z)
        _, back = tm.point_to_tile_fraction(np.zeros_like(lat), lat, z)
        assert np.allclose(back, yf, atol=1e-6)
