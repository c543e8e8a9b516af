"""JVM-side column expressions for tile math.

The tile formulas are built from the DOUBLE-literal SQL text of
:mod:`vt_grid_spark.functions.sqltext`, the one Spark-side definition (the
DuckDB oracles use its plain form, the vt_* SQL functions its per-row-zoom
form), wrapped in ``F.expr``: Catalyst trees like any column expression,
so the hot path (point -> cell encode, pyramid rollup keys) never leaves
whole-stage codegen.  They take SQL text: a column name quoted with
``sqltext.bq`` or an expression such as ``"(x + 1)"``.  A zoom is an int
or a per-row zoom expression such as ``"zoom"``.  The same closed-form
Web-Mercator math runs in numpy in :mod:`vt_grid_spark.tilemath`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq


def tile_x(lon: str, z: int | str) -> Column:
    """Integer tile x of a longitude (``sqltext.tile_x_sql``)."""
    return F.expr(sq.tile_x_sql(lon, z, double=True))


def tile_y(lat: str, z: int | str) -> Column:
    """Integer tile y of a latitude, clamped to +-``MERCATOR_MAX_LAT``
    first (``sqltext.tile_y_sql``)."""
    return F.expr(sq.tile_y_sql(lat, z, double=True))


def tile_lon(x: str, z: int | str) -> Column:
    """West edge longitude of tile column x (``sqltext.tile_lon_sql``)."""
    return F.expr(sq.tile_lon_sql(x, z, double=True))


def tile_lat(y: str, z: int | str) -> Column:
    """North edge latitude of tile row y (``sqltext.tile_lat_sql``)."""
    return F.expr(sq.tile_lat_sql(y, z, double=True))


def quadkey(x: Column, y: Column, z: int) -> Column:
    """Quadkey string from integer tile (x, y) at literal zoom z.

    Pure bit arithmetic unrolled per level — stays in codegen, no UDF.
    digit k = bit(z-k) of x + 2*bit(z-k) of y
    (tilebelt.tileToQuadkey parity, /root/reference/lib/aggregate-cells.js:32).
    """
    if z == 0:
        return F.lit("")
    parts = []
    for k in range(z):
        shift = z - 1 - k
        d = (F.shiftright(x, shift).bitwiseAND(F.lit(1))
             + F.shiftright(y, shift).bitwiseAND(F.lit(1)) * F.lit(2))
        parts.append(d.cast("string"))
    return F.concat(*parts)


def parent_qk(qk: Column) -> Column:
    """Parent cell key = quadkey minus last char
    (/root/reference/lib/aggregate-cells.js:31-32 computes exactly this)."""
    return qk.substr(F.lit(1), F.length(qk) - 1)


def parent_xy(x: Column, y: Column) -> tuple[Column, Column]:
    """Parent tile in integer space: (x>>1, y>>1) — tilebelt.getParent."""
    return F.shiftright(x, 1), F.shiftright(y, 1)


def degenerate_pass_point(lon: str, lat: str, x: str, y: str, z: int) -> Column:
    """Strict-interior degenerate test for a POINT feature against its
    cell at zoom z, as a pure column expression — the single-vertex case
    of /root/reference/lib/degenerate.js:10-47 (Point rule line 28): the
    point must lie strictly MORE than eps inside all four cell edges,
    eps = 0.087 / 4^z (degenerate.js:12-14)."""
    eps = F.lit(0.087 / (4.0 ** z))
    w, e = tile_lon(x, z), tile_lon(f"({x} + 1)", z)
    s, n = tile_lat(f"({y} + 1)", z), tile_lat(y, z)
    lon, lat = F.expr(lon), F.expr(lat)
    return (lon - w > eps) & (e - lon > eps) & (lat - s > eps) & (n - lat > eps)


def _spread_bits(v: Column) -> Column:
    """Interleave zeros between the low 32 bits of v (the classic
    magic-mask spread, e.g. Morton-code references in HAKMEM / "Bit
    Twiddling Hacks"): bit i of v lands at bit 2i.  Five shift-or-mask
    steps, pure codegen."""
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def morton(x: Column, y: Column) -> Column:
    """Z-order (Morton) code of a cell: x bits on even positions, y bits
    on odd — one bigint that linearizes the 2-D grid so RANGE-partitioned,
    sorted level files carry narrow min/max stats on BOTH x and y (the
    storage-clustering key behind ``TableIO.write_level(cluster=True)``).
    Exact for x, y < 2^31 (zooms <= 31 — every zoom the engine uses)."""
    return _spread_bits(x.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits(y.cast("long")), 1))
