"""Spatial joins: point-in-polygon via the cover/refine pattern.

Not present in the reference (SURVEY.md §2.5 — it has no joins); required
by the north rule.  Design for 100 TB:

  1. COVER (small side): slice each polygon into its covering cells at a
     fixed zoom (reusing the clip quadtree, filter off) — this is the
     polygon's "index".  The cover is built DISTRIBUTED: a mapInPandas
     pass over the polygon table runs the numpy quadtree kernel per
     polygon on the executors (a 10^5-polygon dimension would serialize
     the driver otherwise), and only the resulting (poly_id, x, y, full)
     cells are broadcast.
  2. EQUI-JOIN: points encoded at the same zoom equi-join the cover on
     (x, y) — a broadcast hash join, NO shuffle of the fact table.
  3. REFINE: exact even-odd ray-casting test, vectorized numpy inside a
     pandas UDF over Arrow batches, in a SINGLE pass over the candidates:
     the cover's ``full`` flag rides into the kernel, which accepts
     full-cell rows with a mask (no ray cast) and ray-casts only
     boundary-cell rows.  One scan + one join + one ArrowEvalPython —
     the r2 two-branch split evaluated the whole candidate subtree twice.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from vt_grid_spark import tilemath as tm
from vt_grid_spark.operators.clip import clip_ring_rect
from vt_grid_spark.operators.encode import encode_points


def polygon_cover_cells(rings: list, z: int):
    """(x, y, full) cells overlapping the polygon at zoom z; ``full`` marks
    cells wholly inside (no refine needed).  Quadtree descent, O(covered)."""
    out = []
    rings0 = [np.asarray(r, dtype=np.float64) for r in rings]

    def rec(x, y, zz, rs):
        w, s, e, n = (float(v) for v in tm.tile_to_bbox(x, y, zz))
        outer = clip_ring_rect(rs[0], w, s, e, n)
        if len(outer) < 3:
            return
        holes = [clip_ring_rect(r, w, s, e, n) for r in rs[1:]]
        holes = [h for h in holes if len(h) >= 3]
        if zz == z:
            # full iff the clipped outer covers the cell's planar area
            # exactly and no hole intrudes (shoelace vs rect area)
            full = False
            if not holes:
                xx, yy = outer[:, 0], outer[:, 1]
                area2 = abs(float(np.dot(xx, np.roll(yy, -1)) - np.dot(yy, np.roll(xx, -1))))
                rect2 = 2.0 * (e - w) * (n - s)
                full = abs(area2 - rect2) <= 1e-9 * rect2
            out.append((x, y, full))
            return
        for cx, cy, cz in tm.children(x, y, zz):
            rec(cx, cy, cz, [outer] + holes)

    rec(0, 0, 0, rings0)
    return out


def _geom_rings(geom: dict) -> list:
    """GeoJSON Polygon/MultiPolygon -> list of ring-lists (one per part)."""
    return [geom["coordinates"]] if geom["type"] == "Polygon" \
        else geom["coordinates"]


def polygon_cover_df(polygons: DataFrame, z: int,
                     poly_id: str = "poly_id",
                     geometry_json: str = "geometry_json") -> DataFrame:
    """Distributed cover construction: one quadtree descent per polygon,
    run on the executors via mapInPandas (narrow — no shuffle).  Cells of
    a multi-part polygon are merged per (x, y) with OR on ``full`` inside
    the kernel, so no downstream dedup aggregation is needed."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, xs, ys, fulls = [], [], [], []
            for pid, gj in zip(pdf[poly_id], pdf[geometry_json]):
                seen: dict[tuple, bool] = {}
                for rings in _geom_rings(json.loads(gj)):
                    for x, y, full in polygon_cover_cells(rings, z):
                        seen[(x, y)] = seen.get((x, y), False) or full
                for (x, y), full in seen.items():
                    ids.append(pid); xs.append(x); ys.append(y)
                    fulls.append(full)
            yield pd.DataFrame({poly_id: pd.array(ids, dtype="int64"),
                                "x": pd.array(xs, dtype="int64"),
                                "y": pd.array(ys, dtype="int64"),
                                "full": pd.array(fulls, dtype="bool")})

    return polygons.select(poly_id, geometry_json).mapInPandas(
        gen, schema=f"{poly_id} long, x long, y long, full boolean")


def points_in_polygon_numpy(lon: np.ndarray, lat: np.ndarray, rings: list,
                            chunk_elems: int = 32_000_000) -> np.ndarray:
    """Vectorized even-odd ray casting for N points against one polygon
    (outer ring + holes). Half-open edge semantics (standard crossing rule).

    No Python loop over edges (at a 10^4-vertex coastline polygon the
    per-edge loop was the refine kernel's cost, VERDICT r4 #4) and no
    dense (points x edges) matrix either — both the dense-float and
    dense-bool broadcast versions were memory-bound and ran at or below
    the scalar loop on this class of box (A/B in BASELINE.md).  Instead,
    interval stabbing: the crossing condition ``(y1 > la) != (y2 > la)``
    is exactly ``min(y1,y2) <= la < max(y1,y2)``, so with the points
    sorted by latitude ONCE, each edge's straddled points are one
    ``searchsorted`` range — O(E log P + hits) work total, where hits
    (the true crossing count, ~O(P) for real rings) is all the kernel
    ever materializes.  The x-intersection is evaluated only at the hit
    positions (same expression, term-for-term, as the scalar loop, so
    masks are bit-identical); parities land back via bincount.  Edges are
    batched so the materialized pair arrays stay ~``chunk_elems`` —
    degenerate polygons (every edge spanning every latitude) degrade to
    bounded chunks, never an E*P allocation."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n_p = len(lon)
    inside = np.zeros(n_p, dtype=bool)
    if not n_p:
        return inside
    # int32 index arrays throughout the pair lists — the kernel is memory
    # bound and the indices are the traffic (valid while points-per-call
    # < 2^31; Arrow batches are ~10^5)
    order = np.argsort(lat, kind="stable").astype(np.int32)
    slat = lat[order]
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) and np.array_equal(r[0], r[-1]):
            r = r[:-1]
        if not len(r):
            continue
        x1, y1 = np.ascontiguousarray(r[:, 0]), np.ascontiguousarray(r[:, 1])
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        dx, dy = x2 - x1, y2 - y1
        lo_y = np.minimum(y1, y2)
        hi_y = np.maximum(y1, y2)
        start = np.searchsorted(slat, lo_y, side="left")
        end = np.searchsorted(slat, hi_y, side="left")
        counts = end - start
        # horizontal edges (dy == 0) have lo_y == hi_y -> counts == 0, so
        # the division below never sees dy == 0 — the same guard the
        # scalar loop relied on via masking
        ccum = np.concatenate(([0], np.cumsum(counts)))
        n_e = len(counts)
        e0 = 0
        while e0 < n_e:
            e1 = int(np.searchsorted(ccum, ccum[e0] + chunk_elems,
                                     side="right")) - 1
            e1 = min(max(e1, e0 + 1), n_e)
            cnts = counts[e0:e1]
            tot = int(ccum[e1] - ccum[e0])
            e0_prev, e0 = e0, e1
            if tot == 0:
                continue
            ei = np.repeat(np.arange(e0_prev, e1, dtype=np.int32), cnts)
            offs = (np.arange(tot, dtype=np.int32)
                    - np.repeat((ccum[e0_prev:e1] - ccum[e0_prev])
                                .astype(np.int32), cnts))
            pi = order[np.repeat(start[e0_prev:e1].astype(np.int32), cnts)
                       + offs]
            xint = dx[ei] * (lat[pi] - y1[ei]) / dy[ei] + x1[ei]
            hits = pi[lon[pi] < xint]
            par = np.bincount(hits, minlength=n_p)
            inside ^= (par & 1).astype(bool)
    return inside


def _make_pip_udf(geoms_bc):
    """Vectorized refine UDF over a Spark BROADCAST of the polygon dict —
    the closure captures only the broadcast handle, so the geometry ships
    to each executor ONCE (torrent blocks), not re-pickled into every task
    closure (at 10^5 complex polygons the per-task pickle was the cost).
    Only (lon, lat, poly_id, full) cross Arrow, never a geometry string
    per row.  The ``full`` flag short-circuits inside the kernel:
    full-cell rows are accepted by mask with zero ray-cast work, so the
    whole candidate set flows through ONE filter pass (no double
    evaluation of the upstream scan + encode + join subtree)."""
    from pyspark.broadcast import Broadcast

    if not isinstance(geoms_bc, Broadcast):
        raise TypeError(
            "pass the geometry dict as a SparkContext.broadcast handle — a "
            "plain dict would be re-serialized into every task closure")

    def kernel(lon: pd.Series, lat: pd.Series, poly_id: pd.Series,
               full: pd.Series) -> pd.Series:
        geoms = geoms_bc.value
        out = full.to_numpy(dtype=bool).copy()
        todo = np.nonzero(~out)[0]
        if len(todo):
            lon_v = lon.to_numpy(dtype=np.float64)[todo]
            lat_v = lat.to_numpy(dtype=np.float64)[todo]
            pid_v = poly_id.to_numpy()[todo]
            hit = np.zeros(len(todo), dtype=bool)
            for pid in pd.unique(pid_v):
                polys = geoms[pid]
                pos = np.nonzero(pid_v == pid)[0]
                h = np.zeros(len(pos), dtype=bool)
                for rings in polys:
                    h |= points_in_polygon_numpy(lon_v[pos], lat_v[pos], rings)
                hit[pos] = h
            out[todo] = hit
        return pd.Series(out)

    return pandas_udf(kernel, "boolean")


def point_in_polygon_join(points: DataFrame, polygons: DataFrame, z: int = 9,
                          lon: str = "lon", lat: str = "lat",
                          poly_id: str = "poly_id",
                          geometry_json: str = "geometry_json") -> DataFrame:
    """points ⋈ polygons (containment). polygons is the SMALL side.

    Returns the points columns + poly_id.  Broadcast cover join + exact
    refine in one pass; full-cell rows short-circuit inside the kernel.
    The only driver-side collect is the geometry strings (dimension-sized),
    shipped to executors as ONE Spark broadcast variable — not re-pickled
    per task; cover construction runs on the executors.
    """
    cover = polygon_cover_df(polygons, z, poly_id=poly_id,
                             geometry_json=geometry_json)
    geoms = {r[poly_id]: _geom_rings(json.loads(r[geometry_json]))
             for r in polygons.select(poly_id, geometry_json).collect()}
    geoms_bc = points.sparkSession.sparkContext.broadcast(geoms)

    enc = encode_points(points, z, lon=lon, lat=lat, with_quadkey=False)
    cand = enc.join(F.broadcast(cover), ["x", "y"])
    pip_udf = _make_pip_udf(geoms_bc)
    out = (
        cand.where(pip_udf(F.col(lon), F.col(lat), F.col(poly_id), F.col("full")))
        .drop("x", "y", "zoom", "full")
    )
    # register the handle so long-lived sessions can release the broadcast
    # after materializing (release_pip_broadcasts)
    _PIP_BROADCASTS.append(geoms_bc)
    return out


_PIP_BROADCASTS: list = []


def release_pip_broadcasts(blocking: bool = False) -> int:
    """TERMINALLY release EVERY geometry broadcast issued by
    :func:`point_in_polygon_join` in this session (call after the results
    are materialized — repeated joins in a long-lived session would
    otherwise accumulate one broadcast per call).  Uses
    ``Broadcast.destroy`` — ``unpersist`` only drops executor blocks and
    leaves the driver-side geometry dict resident (re-shipping it on
    reuse), so it cannot reclaim driver memory; destroy is this
    function's documented terminal contract (the released results must
    not be re-executed).  Returns the number released."""
    n = len(_PIP_BROADCASTS)
    for bc in _PIP_BROADCASTS:
        bc.destroy(blocking)
    _PIP_BROADCASTS.clear()
    return n

