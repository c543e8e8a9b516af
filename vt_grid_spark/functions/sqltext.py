"""ANSI-SQL text for the engine's tile math: the one Spark-side definition.

Each generator gives two forms of the same IEEE-754 double operations.
The plain form is the DuckDB-oracle text.  The DOUBLE form
(``double=True``) is Spark text: kNN encodes with it, the Column builders
in :mod:`vt_grid_spark.functions` wrap it in ``F.expr``, and the vt_* SQL
function bodies in :mod:`vt_grid_spark.functions.sqlfuncs` are generated
from it, so no other copy of a tile formula exists on the Spark side
(ln/sin/floor are bit-stable across libm for the generic inputs our
synthetic keys produce; goldens for boundary behavior live in pytest
instead — SURVEY.md §7 g8).

A zoom ``z`` is an int or, as a string, a per-row zoom expression; 2^z is
then ``POWER(2.0, z)``, exact for every integer zoom, so both spellings
compute the same doubles.
"""

from __future__ import annotations

import math

from vt_grid_spark.tilemath import MERCATOR_MAX_LAT


def bq(name: str) -> str:
    """Backtick-quote an identifier for generated Spark SQL text.  The
    quoted name resolves literally as ONE column, so a name with a hyphen,
    a space or the shape of a keyword or niladic function stays a column
    reference.  This differs from ``F.col(name)`` for dotted names:
    ``F.col("a.b")`` reads field ``b`` of struct ``a``, while ``bq("a.b")``
    names the column called ``a.b``."""
    return "`" + name.replace("`", "``") + "`"


def sq(word: str) -> str:
    """Single-quote a string literal for generated Spark SQL text: quotes
    are doubled and backslashes doubled, so any word (fr/it elisions like
    ``l'``, a stray backslash) parses back to itself.  The backslash
    doubling is correct only under
    ``spark.sql.parser.escapedStringLiterals=false``, the Spark default,
    which ``session.get_spark`` pins; with that conf on, Spark reads
    backslashes literally and each one would come back doubled.  Not for
    DuckDB text, where a backslash is never an escape."""
    return "'" + word.replace("\\", "\\\\").replace("'", "''") + "'"


def _num(v: float, double: bool) -> str:
    """A float literal: plain (the oracle text; a DECIMAL literal in
    Spark) or, with ``double``, Spark's ``D``-suffixed DOUBLE literal.
    Both denote the same double, and Spark casts a DECIMAL operand of a
    double operation to DOUBLE, so the arithmetic is the same.  The
    DOUBLE form skips the decimal type coercion: Spark analyzes kNN's
    safety-radius expression in about half the time (54 -> 26 ms)."""
    return f"{v!r}D" if double else repr(v)


def _pow2(z: int | str, double: bool) -> str:
    """2^z as a double: a literal for an int zoom, ``POWER(2.0, z)`` for a
    per-row zoom expression."""
    if isinstance(z, str):
        return f"POWER({_num(2.0, double)}, {z})"
    return _num(float(1 << z), double)


def _top(z: int | str) -> str:
    """The last tile index at zoom z, 2^z - 1, as a BIGINT."""
    if isinstance(z, str):
        return f"(CAST(POWER(2, {z}) AS BIGINT) - 1)"
    return str((1 << z) - 1)


def tile_x_sql(lon: str, z: int | str, double: bool = False) -> str:
    """Tile x of a longitude: floor(2^z * (lon/360 + 0.5)) mod 2^z,
    clamped — tilebelt.pointToTile parity (the reference's
    lib/aggregate-cells.js:54-78)."""
    z2 = _pow2(z, double)
    half, deg = _num(0.5, double), _num(360.0, double)
    fx = f"(({z2} * (({lon})/{deg} + {half})) % {z2})"
    fx = f"(CASE WHEN {fx} < 0 THEN {fx} + {z2} ELSE {fx} END)"
    return f"CAST(LEAST(GREATEST(FLOOR({fx}), 0), {_top(z)}) AS BIGINT)"


def tile_y_sql(lat: str, z: int | str, double: bool = False) -> str:
    """Tile y of a latitude: floor(2^z * (0.5 - 0.25*ln((1+sin)/(1-sin))/pi)),
    clamped.  The DOUBLE form is Spark-side text and clamps latitude to
    +-``MERCATOR_MAX_LAT`` first, which leaves y unchanged for every
    |lat| < 90 and keeps the poles finite (row 0 and row 2^z-1, as
    ``tm.point_to_tile``): at lat = 90 the ratio divides by zero, which
    raises under ANSI mode.  The clamp reads ``lat`` once: a filter on y
    pushed below a derived ``lat`` inlines it per reference.  The plain
    oracle text does not clamp."""
    if double:
        m = _num(MERCATOR_MAX_LAT, True)
        lat = f"LEAST(GREATEST({lat}, -{m}), {m})"
    z2 = _pow2(z, double)
    one = _num(1.0, double)
    s = f"SIN(RADIANS({lat}))"
    fy = (f"({z2} * ({_num(0.5, double)} - {_num(0.25, double)} * "
          f"LN(({one} + {s}) / ({one} - {s})) / PI()))")
    return f"CAST(LEAST(GREATEST(FLOOR({fy}), 0), {_top(z)}) AS BIGINT)"


def quadkey_sql(x: str, y: str, z: int) -> str:
    """Quadkey via the same per-level bit arithmetic (DuckDB >> and &)."""
    if z == 0:
        return "''"
    parts = []
    for k in range(z):
        shift = z - 1 - k
        parts.append(
            f"CAST(((({x}) >> {shift}) & 1) + 2 * ((({y}) >> {shift}) & 1) AS VARCHAR)"
        )
    return " || ".join(parts)


def tile_lat_sql(y: str, z: int | str, double: bool = False) -> str:
    """Latitude of a tile row's north edge: atan(sinh(n)) in degrees,
    n = pi - 2*pi*y/2^z, with sinh spelled 0.5*(exp(n) - exp(-n))."""
    nexpr = (f"({_num(math.pi, double)} - {_num(2.0 * math.pi, double)} * "
             f"CAST({y} AS DOUBLE) / {_pow2(z, double)})")
    return f"DEGREES(ATAN({_num(0.5, double)} * (EXP({nexpr}) - EXP(-{nexpr}))))"


def tile_lon_sql(x: str, z: int | str, double: bool = False) -> str:
    """Longitude of a tile column's west edge: x/2^z*360 - 180."""
    return (f"(CAST({x} AS DOUBLE) / {_pow2(z, double)} * "
            f"{_num(360.0, double)} - {_num(180.0, double)})")
