"""Pure-SQL surface: the engine's tile math as Spark SQL scalar functions.

``register_sql_functions(spark)`` creates TEMPORARY FUNCTIONs (Spark 4
SQL UDFs — declarative RETURN expressions, inlined by Catalyst into the
calling plan like any column expression: whole-stage codegen, pushdown,
no Python) so an entire grid pipeline can be written in ``spark.sql``:

    SELECT vt_tile_x(lon, 12) AS x, vt_tile_y(lat, 12) AS y, COUNT(*)
    FROM points GROUP BY 1, 2

The bodies are the dynamic-zoom twins of the compile-time-zoom text in
:mod:`vt_grid_spark.functions.sqltext` (same IEEE-754 double operations,
``shiftleft(1, z)`` for the exact power of two), mirroring the reference
surface: tileToQuadkey / quadkeyToTile / getParent / tileToBBOX
(/root/reference/lib/tile-util.js) as SQL instead of JS.

Functions (all prefixed ``vt_`` to keep the session namespace clean):

  vt_tile_x(lon, z) / vt_tile_y(lat, z)     point -> cell coordinate
  vt_tile_lon(x, z) / vt_tile_lat(y, z)     cell corner -> lon/lat (NW)
  vt_quadkey(x, y, z)                        quadkey string
  vt_quadkey_x(qk) / vt_quadkey_y(qk)        quadkey -> x / y (zoom = length)
  vt_parent_x(x) / vt_parent_y(y)            one zoom up (shiftright 1)
  vt_cell_id(x, y, z)                        packed bigint x*2^z + y
  vt_cell_x(cell, z) / vt_cell_y(cell, z)    exact bit-math unpack
  vt_is_ancestor(x, y, z, ax, ay, az)        quadkey-prefix membership
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from vt_grid_spark.tilemath import MERCATOR_MAX_LAT

_Z2 = "CAST(shiftleft(1, z) AS DOUBLE)"
_FX = f"(({_Z2} * (lon/360.0 + 0.5)) % {_Z2})"
_FXW = f"(CASE WHEN {_FX} < 0 THEN {_FX} + {_Z2} ELSE {_FX} END)"
# latitude clamped to +-MERCATOR_MAX_LAT, as in vf.tile_y: finite at the poles
_M = f"{MERCATOR_MAX_LAT!r}D"
_LAT = f"LEAST(GREATEST(lat, -{_M}), {_M})"
_S = f"SIN(RADIANS({_LAT}))"
_FY = f"({_Z2} * (0.5 - 0.25 * LN((1.0 + {_S}) / (1.0 - {_S})) / PI()))"

_DEFS: dict[str, str] = {
    "vt_tile_x(lon DOUBLE, z INT) RETURNS BIGINT":
        f"CAST(LEAST(GREATEST(FLOOR({_FXW}), 0), shiftleft(1, z) - 1) AS BIGINT)",
    "vt_tile_y(lat DOUBLE, z INT) RETURNS BIGINT":
        f"CAST(LEAST(GREATEST(FLOOR({_FY}), 0), shiftleft(1, z) - 1) AS BIGINT)",
    "vt_tile_lon(x BIGINT, z INT) RETURNS DOUBLE":
        "x / CAST(shiftleft(1, z) AS DOUBLE) * 360.0 - 180.0",
    "vt_tile_lat(y BIGINT, z INT) RETURNS DOUBLE":
        ("DEGREES(ATAN(SINH(PI() * "
         "(1.0 - 2.0 * y / CAST(shiftleft(1, z) AS DOUBLE)))))"),
    # z=0 guard: Spark's sequence(1, 0) yields the DESCENDING [1, 0], not
    # an empty array, so the root tile must short-circuit to '' (the same
    # pitfall _shingles_expr guards with greatest(..., 1))
    "vt_quadkey(x BIGINT, y BIGINT, z INT) RETURNS STRING":
        ("CASE WHEN z <= 0 THEN '' ELSE "
         "array_join(transform(sequence(1, z), l -> CAST("
         "((x >> (z - l)) & 1) + 2 * ((y >> (z - l)) & 1) AS STRING)), '')"
         " END"),
    "vt_quadkey_x(qk STRING) RETURNS BIGINT":
        ("CASE WHEN length(qk) = 0 THEN CAST(0 AS BIGINT) ELSE "
         "aggregate(transform(sequence(1, length(qk)), "
         "l -> CAST(substring(qk, l, 1) AS INT) & 1), "
         "0L, (a, b) -> a * 2 + b) END"),
    "vt_quadkey_y(qk STRING) RETURNS BIGINT":
        ("CASE WHEN length(qk) = 0 THEN CAST(0 AS BIGINT) ELSE "
         "aggregate(transform(sequence(1, length(qk)), "
         "l -> CAST(substring(qk, l, 1) AS INT) >> 1), "
         "0L, (a, b) -> a * 2 + b) END"),
    "vt_parent_x(x BIGINT) RETURNS BIGINT": "shiftright(x, 1)",
    "vt_parent_y(y BIGINT) RETURNS BIGINT": "shiftright(y, 1)",
    "vt_cell_id(x BIGINT, y BIGINT, z INT) RETURNS BIGINT":
        "x * shiftleft(CAST(1 AS BIGINT), z) + y",
    # exact integer decode at EVERY zoom (double division loses low bits
    # past 2^53 — same rule as QuadkeyIndex.xy / HexIndex.qr)
    "vt_cell_x(cell BIGINT, z INT) RETURNS BIGINT": "shiftright(cell, z)",
    "vt_cell_y(cell BIGINT, z INT) RETURNS BIGINT":
        "pmod(cell, shiftleft(CAST(1 AS BIGINT), z))",
    "vt_is_ancestor(x BIGINT, y BIGINT, z INT, ax BIGINT, ay BIGINT, az INT) RETURNS BOOLEAN":
        ("az <= z AND shiftright(x, z - az) = ax"
         " AND shiftright(y, z - az) = ay"),
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Create (or replace) the vt_* temporary SQL functions in this
    session.  Returns the registered function names."""
    names = []
    for sig, body in _DEFS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {sig} RETURN {body}")
        names.append(sig.split("(", 1)[0])
    return names
