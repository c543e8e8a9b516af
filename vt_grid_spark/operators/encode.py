"""Point -> grid-cell encode: the Spark form of the reference's raw path
for point features (/root/reference/lib/aggregate-cells.js:54-83 does this
with a geojson-vt index per tile; for points it reduces to closed-form
column math, SURVEY.md §2.3 G3).

Everything is JVM-side Catalyst expressions — no UDF, stays inside
whole-stage codegen, filters/projections push down to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vt_grid_spark import functions as vf
from vt_grid_spark import tilemath as tm
from vt_grid_spark.functions import sqltext as sq


def encode_points(df: DataFrame, z: int, lon: str = "lon", lat: str = "lat",
                  with_quadkey: bool = True) -> DataFrame:
    """Add (zoom, x, y[, quadkey]) cell columns for each point row.

    Half-open cell intervals (floor of the fractional tile coordinate) make
    the strict-interior degenerate filter a no-op for points — a point on a
    shared edge belongs to exactly one cell (SURVEY.md §2.2 P1).

    A row whose ``lon`` or ``lat`` is null or NaN is dropped: it has no
    cell, while the tile math would clamp it into a real one (``LEAST`` and
    ``GREATEST`` skip a null).  The filter reads each coordinate once.
    Catalyst pushes it below a projection that derives the coordinates
    (``pages.with_coords``), which then derives them twice per row.
    """
    def located(c: str) -> Column:  # neither null nor NaN
        return F.nanvl(F.expr(c), F.lit(None).cast("double")).isNotNull()

    lon, lat = sq.bq(lon), sq.bq(lat)
    out = (
        df.where(located(lon) & located(lat))
        .withColumn("zoom", F.lit(z))
        .withColumn("x", vf.tile_x(lon, z))
        .withColumn("y", vf.tile_y(lat, z))
    )
    if with_quadkey:
        out = out.withColumn("quadkey", vf.quadkey(F.col("x"), F.col("y"), z))
    return out


def cover_ranges(cell_z: int, bbox=None, tiles=None) -> list[tuple]:
    """Inclusive cell-index ranges [(x0, x1, y0, y1), ...] at cell_z for a
    bbox and/or an explicit tile list [(z, x, y), ...] — the reference's
    tile-cover restriction surface (/root/reference/index.js:113-122:
    ``tiles`` wins over ``bbox`` over sourceCover; here both compose as a
    union of ranges)."""
    ranges: list[tuple] = []
    if bbox is not None:
        ranges.append(tm.bbox_to_tile_range(bbox, cell_z))
    for (tz, tx, ty) in tiles or []:
        dz = cell_z - int(tz)
        if dz < 0:
            raise ValueError(f"cover tile zoom {tz} is below the cell zoom {cell_z}")
        ranges.append((int(tx) << dz, ((int(tx) + 1) << dz) - 1,
                       int(ty) << dz, ((int(ty) + 1) << dz) - 1))
    return ranges


def cover_cell_predicate(ranges: list[tuple]) -> Column:
    """Exact cover membership on the ENCODED integer cell key."""
    cond = None
    for (x0, x1, y0, y1) in ranges:
        c = (F.col("x").between(x0, x1)) & (F.col("y").between(y0, y1))
        cond = c if cond is None else (cond | c)
    return cond if cond is not None else F.lit(True)


def cover_lonlat_predicate(ranges: list[tuple], cell_z: int,
                           lon: str = "lon", lat: str = "lat") -> Column:
    """Conservative lon/lat superset of the cover, on RAW source columns —
    this is the predicate that reaches the parquet scan (row-group min/max
    pruning), widened by a margin so no cell-range row is lost to the
    transcendental edge math; the exact filter is cover_cell_predicate."""
    margin = 1e-9
    cond = None
    for (x0, x1, y0, y1) in ranges:
        w = float(tm.tile_to_lon(x0, cell_z)) - margin
        e = float(tm.tile_to_lon(x1 + 1, cell_z)) + margin
        n = float(tm.tile_to_lat(y0, cell_z)) + margin
        s = float(tm.tile_to_lat(y1 + 1, cell_z)) - margin
        c = ((F.col(lon) >= w) & (F.col(lon) <= e)
             & (F.col(lat) >= s) & (F.col(lat) <= n))
        cond = c if cond is None else (cond | c)
    return cond if cond is not None else F.lit(True)


def cell_aggregate(points: DataFrame, z: int, agg_exprs: list) -> DataFrame:
    """points (already encoded at zoom z) -> one row per occupied cell.

    Sparse by design: empty cells are never materialized (the reference's
    grid path emits dense 4^d cells, lib/aggregate-cells.js:39-47 — at web
    scale that is 4^19 rows of nothing; the ``densify`` view in
    ``tests/test_plan_extras.py`` reproduces dense output for fixture
    parity, SURVEY.md §7 g3).

    Shuffle hygiene: the grouping key is ONLY the integer (x, y) — the
    constant ``zoom`` and the derivable ``quadkey`` string are
    re-attached AFTER the aggregation, so the exchange carries two longs
    per record instead of longs + a z-char string key (measured ~30% of
    base-level shuffle bytes at z12)."""
    out = points.groupBy("x", "y").agg(*agg_exprs)
    out = out.withColumn("zoom", F.lit(z))
    cols = ["zoom", "x", "y"]
    if "quadkey" in points.columns:
        out = out.withColumn("quadkey", vf.quadkey(F.col("x"), F.col("y"), z))
        cols.append("quadkey")
    return out.select(*cols, *[c for c in out.columns if c not in cols])
