"""Raw-path polygon clipping: assign polygon features to grid cells by
exact rectangle clipping — the engine's replacement for the reference's
geojson-vt slicing (tolerance 0, buffer 0, indexMaxZoom = gridZoom,
/root/reference/lib/aggregate-cells.js:54-83).

Algorithm: recursive quadtree subdivision (the geojson-vt pattern) —
clip the feature to a tile, recurse into the 4 children until gridZoom —
so cost is O(cells actually covered), not O(bbox cells).  All kernels are
numpy over coordinate arrays; the Spark surface is mapInPandas (Arrow
batches, per-feature independent → embarrassingly parallel, NO shuffle).

This path exists for geometry workloads and reference-fixture parity;
the web-page corpus is points, which take the closed-form encode
(operators/encode.py) and never touch this module.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np

from vt_grid_spark import tilemath as tm

# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def clip_ring_rect(ring: np.ndarray, w: float, s: float, e: float, n: float) -> np.ndarray:
    """Sutherland–Hodgman clip of one ring (N x 2 lon/lat, closed or open)
    against an axis-aligned rectangle.  Returns an (M x 2) open ring
    (possibly empty)."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    for axis, bound, keep_ge in ((0, w, True), (0, e, False), (1, s, True), (1, n, False)):
        if len(pts) == 0:
            return pts
        prev = np.roll(pts, 1, axis=0)
        cur_v = pts[:, axis]
        prev_v = prev[:, axis]
        cur_in = cur_v >= bound if keep_ge else cur_v <= bound
        prev_in = prev_v >= bound if keep_ge else prev_v <= bound
        out = []
        denom = cur_v - prev_v
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(denom != 0, (bound - prev_v) / denom, 0.0)
        inter = prev + t[:, None] * (pts - prev)
        inter[:, axis] = bound  # exact on the clip line
        for i in range(len(pts)):
            if cur_in[i]:
                if not prev_in[i]:
                    out.append(inter[i])
                out.append(pts[i])
            elif prev_in[i]:
                out.append(inter[i])
        pts = np.array(out, dtype=np.float64) if out else np.empty((0, 2))
    return pts


def passes_degenerate(coords: np.ndarray, w: float, s: float, e: float, n: float,
                      eps: float) -> bool:
    """The reference's strict-interior test, exactly
    (/root/reference/lib/degenerate.js:10-47): for each of the four edges
    independently, SOME vertex must lie strictly more than eps inside it.
    eps = 0.087 / 4^z with z the tile/cell zoom (degenerate.js:12-14)."""
    if len(coords) == 0:
        return False
    lon = coords[:, 0]
    lat = coords[:, 1]
    left = bool(np.any(lon - w > eps))
    right = bool(np.any(e - lon > eps))
    top = bool(np.any(lat - s > eps))
    bottom = bool(np.any(n - lat > eps))
    return left and right and top and bottom


def degenerate_eps(z: int) -> float:
    return 0.087 / (4.0 ** z)


def feature_passes_degenerate(geom: dict, x: int, y: int, z: int) -> bool:
    """Apply the filter to a GeoJSON geometry against tile (x,y,z) —
    per-type rules of /root/reference/lib/degenerate.js:20-46
    (Polygon: outer ring only; MultiPolygon: every polygon must pass)."""
    w, s, e, n = (float(v) for v in tm.tile_to_bbox(x, y, z))
    eps = degenerate_eps(z)
    t = geom["type"]
    if t == "Polygon":
        coords = np.asarray(geom["coordinates"][0], dtype=np.float64)
    elif t == "LineString":
        coords = np.asarray(geom["coordinates"], dtype=np.float64)
    elif t == "Point":
        coords = np.asarray([geom["coordinates"]], dtype=np.float64)
    elif t == "MultiLineString":
        coords = np.asarray([p for line in geom["coordinates"] for p in line], dtype=np.float64)
    elif t == "MultiPolygon":
        return all(
            feature_passes_degenerate({"type": "Polygon", "coordinates": rings}, x, y, z)
            for rings in geom["coordinates"]
        )
    else:
        raise ValueError(f"Unknown geometry type: {t}")
    return passes_degenerate(coords, w, s, e, n, eps)


_WGS84_R = 6378137.0


def ring_area_sq_m(ring: np.ndarray) -> float:
    """Signed spherical ring area (the geojson-area algorithm the
    reference's areaWeightedMean weights come from via
    geojson-polygon-aggregate)."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) < 3:
        return 0.0
    if not np.array_equal(pts[0], pts[-1]):
        pts = np.vstack([pts, pts[:1]])
    lam = np.radians(pts[:, 0])
    phi = np.radians(pts[:, 1])
    return float(np.sum((lam[1:] - lam[:-1]) * (2.0 + np.sin(phi[:-1]) + np.sin(phi[1:])))
                 * _WGS84_R * _WGS84_R / 2.0)


# ---------------------------------------------------------------------------
# line clipping (the reference's roads workload: per-tile line distance,
# bench/aggregations/osm-roads.js) — slab method, pure arithmetic so the
# DuckDB oracle can mirror the exact float ops
# ---------------------------------------------------------------------------

_EARTH_R = 6378137.0


def clip_segments_to_cells(seg: np.ndarray, grid_z: int,
                           apply_filter: bool = True):
    """One polyline (N x 2 lon/lat) -> {(x, y): clipped length in meters}.

    Per segment: candidate cells from the segment's bbox tile range; the
    in-cell parameter interval [t0, t1] via the slab method
    (t0 = max(0, txmin, tymin), t1 = min(1, txmax, tymax)); clipped piece
    endpoints by linear interpolation; length equirectangular with a
    cos(mid-lat) longitude scale (cheap-ruler-style,
    /root/reference/bench/aggregations/osm-roads.js:18-40).  Degenerate
    pieces (both endpoints within eps of a cell edge) are filtered with
    the reference's strict-interior rule (lib/degenerate.js:26)."""
    eps = degenerate_eps(grid_z)
    out: dict[tuple, float] = {}
    pts = np.asarray(seg, dtype=np.float64)
    for i in range(len(pts) - 1):
        (lon0, lat0), (lon1, lat1) = pts[i], pts[i + 1]
        dx, dy = lon1 - lon0, lat1 - lat0
        x_lo, y_hi_row = tm.point_to_tile(min(lon0, lon1), min(lat0, lat1), grid_z)
        x_hi, y_lo_row = tm.point_to_tile(max(lon0, lon1), max(lat0, lat1), grid_z)
        xs = np.arange(int(x_lo), int(x_hi) + 1, dtype=np.float64)
        ys = np.arange(int(y_lo_row), int(y_hi_row) + 1, dtype=np.float64)
        gx, gy = np.meshgrid(xs, ys, indexing="ij")
        gx, gy = gx.ravel(), gy.ravel()
        w = tm.tile_to_lon(gx, grid_z)
        e = tm.tile_to_lon(gx + 1.0, grid_z)
        s = tm.tile_to_lat(gy + 1.0, grid_z)
        n = tm.tile_to_lat(gy, grid_z)
        if dx == 0.0 or dy == 0.0:
            # axis-parallel: treat the degenerate axis by containment
            if dx == 0.0 and dy == 0.0:
                continue
            if dx == 0.0:
                t0 = np.maximum(0.0, np.minimum((s - lat0) / dy, (n - lat0) / dy))
                t1 = np.minimum(1.0, np.maximum((s - lat0) / dy, (n - lat0) / dy))
                inside = (lon0 >= w) & (lon0 < e)
            else:
                t0 = np.maximum(0.0, np.minimum((w - lon0) / dx, (e - lon0) / dx))
                t1 = np.minimum(1.0, np.maximum((w - lon0) / dx, (e - lon0) / dx))
                inside = (lat0 > s) & (lat0 <= n)
            t1 = np.where(inside, t1, t0)
        else:
            tx1, tx2 = (w - lon0) / dx, (e - lon0) / dx
            ty1, ty2 = (s - lat0) / dy, (n - lat0) / dy
            t0 = np.maximum(0.0, np.maximum(np.minimum(tx1, tx2),
                                            np.minimum(ty1, ty2)))
            t1 = np.minimum(1.0, np.minimum(np.maximum(tx1, tx2),
                                            np.maximum(ty1, ty2)))
        keep = t1 > t0
        if not keep.any():
            continue
        ax = lon0 + t0[keep] * dx
        ay = lat0 + t0[keep] * dy
        bx = lon0 + t1[keep] * dx
        by = lat0 + t1[keep] * dy
        if apply_filter:
            wk, ek, sk, nk = w[keep], e[keep], s[keep], n[keep]
            passes = ((np.maximum(ax, bx) - wk > eps) & (ek - np.minimum(ax, bx) > eps)
                      & (np.maximum(ay, by) - sk > eps) & (nk - np.minimum(ay, by) > eps))
        else:
            passes = np.ones(int(keep.sum()), dtype=bool)
        mid = np.radians((ay + by) * 0.5)
        dlam = np.radians(bx - ax) * np.cos(mid)
        dphi = np.radians(by - ay)
        length = _EARTH_R * np.sqrt(dphi * dphi + dlam * dlam)
        cx, cy = gx[keep].astype(np.int64), gy[keep].astype(np.int64)
        for j in np.nonzero(passes)[0]:
            k = (int(cx[j]), int(cy[j]))
            out[k] = out.get(k, 0.0) + float(length[j])
    return out


def clip_lines_to_cells(df, grid_z: int):
    """mapInPandas operator: rows (feature_id, geometry_json with
    LineString / MultiLineString) -> one row per (feature, covered cell)
    with the clipped in-cell length in meters — the engine form of the
    reference's per-tile road-length reducer."""
    from typing import Iterator as _It

    def gen(batches: _It):
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ["feature_id", "x", "y", "zoom", "length_m"]}
            for row in pdf.itertuples(index=False):
                geom = json.loads(row.geometry_json)
                if geom["type"] == "LineString":
                    lines = [geom["coordinates"]]
                elif geom["type"] == "MultiLineString":
                    lines = geom["coordinates"]
                else:
                    raise ValueError(f"line clip got {geom['type']}")
                cells: dict[tuple, float] = {}
                for line in lines:
                    for k, v in clip_segments_to_cells(
                            np.asarray(line, dtype=np.float64), grid_z).items():
                        cells[k] = cells.get(k, 0.0) + v
                for (x, y), ln in cells.items():
                    rows["feature_id"].append(row.feature_id)
                    rows["x"].append(x)
                    rows["y"].append(y)
                    rows["zoom"].append(grid_z)
                    rows["length_m"].append(ln)
            yield pd.DataFrame(rows)

    return df.mapInPandas(gen, schema="feature_id long, x long, y long, zoom int, length_m double")


# ---------------------------------------------------------------------------
# quadtree slicing of one feature
# ---------------------------------------------------------------------------

def slice_polygon_to_cells(rings: list, grid_z: int, root: tuple | None = None,
                           apply_filter: bool = True):
    """Yield (x, y, clipped_rings, area_sq_m) for every gridZoom cell the
    polygon covers non-degenerately.

    root=(x,y,z) restricts to that tile's progeny (the reference clips per
    source tile, lib/aggregate-cells.js:70); None walks from z0.
    """
    rings0 = [np.asarray(r, dtype=np.float64) for r in rings]
    eps = degenerate_eps(grid_z)

    def rec(x: int, y: int, z: int, rs: list):
        w, s, e, n = (float(v) for v in tm.tile_to_bbox(x, y, z))
        outer = clip_ring_rect(rs[0], w, s, e, n)
        if len(outer) < 3:
            return
        clipped = [outer]
        for r in rs[1:]:
            c = clip_ring_rect(r, w, s, e, n)
            if len(c) >= 3:
                clipped.append(c)
        if z == grid_z:
            if apply_filter and not passes_degenerate(clipped[0], w, s, e, n, eps):
                return
            area = abs(ring_area_sq_m(clipped[0]))
            for hole in clipped[1:]:
                area -= abs(ring_area_sq_m(hole))
            yield_list.append((x, y, [c.tolist() for c in clipped], area))
            return
        for cx, cy, cz in tm.children(x, y, z):
            rec(cx, cy, cz, clipped)

    yield_list: list = []
    if root is None:
        rec(0, 0, 0, rings0)
    else:
        rec(root[0], root[1], root[2], rings0)
    return yield_list


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

CLIP_SCHEMA = (
    "feature_id long, x long, y long, zoom int, area double"
)


def clip_features_to_cells(df, grid_z: int, value_cols: list[str],
                           root_cols: bool = False):
    """mapInPandas operator: rows (feature_id, geometry_json [, tile_x,
    tile_y, tile_z], value columns...) -> one row per (feature, covered
    cell) with the clipped-intersection area as the AWM weight.

    Per-feature independent — Arrow-batched, no shuffle; the groupBy that
    follows (cell aggregation) is the only exchange, same as the
    reference's per-tile fan-out (SURVEY.md §3 lifecycle mapping).
    """
    schema = CLIP_SCHEMA + "".join(
        f", {c} double" for c in value_cols
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ["feature_id", "x", "y", "zoom", "area", *value_cols]}
            for row in pdf.itertuples(index=False):
                geom = json.loads(row.geometry_json)
                root = (int(row.tile_x), int(row.tile_y), int(row.tile_z)) if root_cols else None
                if geom["type"] == "Polygon":
                    polys = [geom["coordinates"]]
                elif geom["type"] == "MultiPolygon":
                    polys = geom["coordinates"]
                else:
                    raise ValueError(f"clip path supports polygons, got {geom['type']}")
                cells: dict[tuple, float] = {}
                for rings in polys:
                    for x, y, _, area in slice_polygon_to_cells(rings, grid_z, root=root):
                        cells[(x, y)] = cells.get((x, y), 0.0) + area
                for (x, y), area in cells.items():
                    out["feature_id"].append(row.feature_id)
                    out["x"].append(x)
                    out["y"].append(y)
                    out["zoom"].append(grid_z)
                    out["area"].append(area)
                    for c in value_cols:
                        out[c].append(float(getattr(row, c)))
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema=schema)
