"""JVM-side column expressions for tile math.

Same closed-form Web-Mercator formulas as :mod:`vt_grid_spark.tilemath`,
expressed as Catalyst column trees so the hot path (point -> cell encode,
pyramid rollup keys) never leaves whole-stage codegen.  The matching ANSI-SQL
text generators (for the DuckDB oracles) live in
:mod:`vt_grid_spark.functions.sqltext` — keep the two in lockstep.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from vt_grid_spark import tilemath as tm


def tile_x(lon: Column, z: int) -> Column:
    """Integer tile x for a longitude column at literal zoom z.

    x = floor(2^z * (lon/360 + 0.5)) mod 2^z, clamped — parity with
    tilebelt.pointToTile as used by the reference's grid assignment
    (/root/reference/lib/aggregate-cells.js:54-78 does this via geojson-vt).
    """
    z2 = float(1 << z)
    fx = F.lit(z2) * (lon / F.lit(360.0) + F.lit(0.5))
    fx = fx % F.lit(z2)
    fx = F.when(fx < 0, fx + F.lit(z2)).otherwise(fx)
    return F.least(F.greatest(F.floor(fx), F.lit(0)), F.lit((1 << z) - 1)).cast("long")


def tile_y(lat: Column, z: int) -> Column:
    """Integer tile y: floor(2^z * (0.5 - 0.25*ln((1+sin)/(1-sin))/pi)), clamped.

    Latitude is first clamped to +-``tm.MERCATOR_MAX_LAT``, which leaves y
    unchanged for every |lat| < 90 and keeps the poles finite (row 0 and
    row 2^z-1, as ``tm.point_to_tile``): at lat = 90 the ratio divides by
    zero, which raises under ANSI mode.  The clamp reads ``lat`` once: a
    filter on y pushed below a derived ``lat`` inlines it per reference."""
    z2 = float(1 << z)
    m = tm.MERCATOR_MAX_LAT
    lat = F.least(F.greatest(lat, F.lit(-m)), F.lit(m))
    s = F.sin(F.radians(lat))
    fy = F.lit(z2) * (
        F.lit(0.5)
        - F.lit(0.25) * F.log((F.lit(1.0) + s) / (F.lit(1.0) - s)) / F.lit(math.pi)
    )
    return F.least(F.greatest(F.floor(fy), F.lit(0)), F.lit((1 << z) - 1)).cast("long")


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


def tile_lon(x: Column, z: int) -> Column:
    return x.cast("double") / F.lit(float(1 << z)) * F.lit(360.0) - F.lit(180.0)


def tile_lat(y: Column, z: int) -> Column:
    n = F.lit(math.pi) - F.lit(2.0 * math.pi) * y.cast("double") / F.lit(float(1 << z))
    return F.degrees(F.atan(F.lit(0.5) * (F.exp(n) - F.exp(-n))))


def tile_lon_dyn(x: Column, zoom: Column) -> Column:
    """tile_lon with a per-row zoom column (sqltext.tile_lon_dyn_sql twin)."""
    return (x.cast("double") / F.pow(F.lit(2.0), zoom.cast("double"))
            * F.lit(360.0) - F.lit(180.0))


def tile_lat_dyn(y: Column, zoom: Column) -> Column:
    n = (F.lit(math.pi) - F.lit(2.0 * math.pi) * y.cast("double")
         / F.pow(F.lit(2.0), zoom.cast("double")))
    return F.degrees(F.atan(F.lit(0.5) * (F.exp(n) - F.exp(-n))))


def degenerate_pass_point(lon: Column, lat: Column, x: Column, y: Column,
                          z: int) -> Column:
    """Strict-interior degenerate test for a POINT feature against its
    cell at zoom z, as a pure column expression — the single-vertex case
    of /root/reference/lib/degenerate.js:10-47 (Point rule line 28): the
    point must lie strictly MORE than eps inside all four cell edges,
    eps = 0.087 / 4^z (degenerate.js:12-14)."""
    eps = F.lit(0.087 / (4.0 ** z))
    w = tile_lon(x, z)
    e = tile_lon(x + F.lit(1), z)
    s = tile_lat(y + F.lit(1), z)
    n = tile_lat(y, z)
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
