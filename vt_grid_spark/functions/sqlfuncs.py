"""Pure-SQL surface: the engine's tile math as Spark SQL scalar functions.

``register_sql_functions(spark)`` creates TEMPORARY FUNCTIONs (Spark 4
SQL UDFs — declarative RETURN expressions, inlined by Catalyst into the
calling plan like any column expression: whole-stage codegen, pushdown,
no Python) so an entire grid pipeline can be written in ``spark.sql``:

    SELECT vt_tile_x(lon, 12) AS x, vt_tile_y(lat, 12) AS y, COUNT(*)
    FROM points GROUP BY 1, 2

The vt_tile_x/y/lon/lat bodies are generated: the DOUBLE-literal text of
:mod:`vt_grid_spark.functions.sqltext` with the zoom parameter ``z`` as
its per-row zoom (``POWER(2.0D, z)``, the exact power of two), so they
compute the same doubles as the Column builders.  The set mirrors the
reference surface: tileToQuadkey / quadkeyToTile / getParent / tileToBBOX
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

from vt_grid_spark.functions import sqltext as sq

_DEFS: dict[str, str] = {
    "vt_tile_x(lon DOUBLE, z INT) RETURNS BIGINT": sq.tile_x_sql("lon", "z", True),
    "vt_tile_y(lat DOUBLE, z INT) RETURNS BIGINT": sq.tile_y_sql("lat", "z", True),
    "vt_tile_lon(x BIGINT, z INT) RETURNS DOUBLE": sq.tile_lon_sql("x", "z", True),
    "vt_tile_lat(y BIGINT, z INT) RETURNS DOUBLE": sq.tile_lat_sql("y", "z", True),
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
