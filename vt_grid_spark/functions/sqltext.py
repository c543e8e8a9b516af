"""ANSI-SQL text generators mirroring :mod:`vt_grid_spark.functions`.

These produce the DuckDB-oracle side of every SQL-expressible operator.
The expressions are kept textually parallel to the Column builders so both
engines evaluate the same IEEE-754 double operations (ln/sin/floor are
bit-stable across libm for the generic inputs our synthetic keys produce;
goldens for boundary behavior live in pytest instead — SURVEY.md §7 g8).
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


def tile_x_sql(lon: str, z: int, double: bool = False) -> str:
    z2 = _num(float(1 << z), double)
    n = (1 << z) - 1
    half, deg = _num(0.5, double), _num(360.0, double)
    fx = f"(({z2} * (({lon})/{deg} + {half})) % {z2})"
    fx = f"(CASE WHEN {fx} < 0 THEN {fx} + {z2} ELSE {fx} END)"
    return f"CAST(LEAST(GREATEST(FLOOR({fx}), 0), {n}) AS BIGINT)"


def tile_y_sql(lat: str, z: int, double: bool = False) -> str:
    """The DOUBLE form is Spark-side text and clamps latitude to
    +-``MERCATOR_MAX_LAT`` first, as ``vf.tile_y`` does (same y for every
    |lat| < 90, finite at the poles); the plain oracle text does not."""
    if double:
        m = _num(MERCATOR_MAX_LAT, True)
        lat = f"LEAST(GREATEST({lat}, -{m}), {m})"
    z2 = _num(float(1 << z), double)
    n = (1 << z) - 1
    one = _num(1.0, double)
    s = f"SIN(RADIANS({lat}))"
    fy = (f"({z2} * ({_num(0.5, double)} - {_num(0.25, double)} * "
          f"LN(({one} + {s}) / ({one} - {s})) / PI()))")
    return f"CAST(LEAST(GREATEST(FLOOR({fy}), 0), {n}) AS BIGINT)"


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


def tile_lat_sql(y: str, z: int, double: bool = False) -> str:
    nexpr = (f"({_num(math.pi, double)} - {_num(2.0 * math.pi, double)} * "
             f"CAST({y} AS DOUBLE) / {_num(float(1 << z), double)})")
    return f"DEGREES(ATAN({_num(0.5, double)} * (EXP({nexpr}) - EXP(-{nexpr}))))"


def tile_lon_sql(x: str, z: int, double: bool = False) -> str:
    return (f"(CAST({x} AS DOUBLE) / {_num(float(1 << z), double)} * "
            f"{_num(360.0, double)} - {_num(180.0, double)})")


def tile_lon_dyn_sql(x: str, zoom: str) -> str:
    """Per-row-zoom variant of :func:`tile_lon_sql` — POWER(2.0, z) is
    exact for integer z, so the double ops match the literal-z text."""
    return f"(CAST({x} AS DOUBLE) / POWER(2.0, {zoom}) * 360.0 - 180.0)"


def tile_lat_dyn_sql(y: str, zoom: str) -> str:
    nexpr = (f"({math.pi} - {2.0 * math.pi} * CAST({y} AS DOUBLE)"
             f" / POWER(2.0, {zoom}))")
    return f"DEGREES(ATAN(0.5 * (EXP({nexpr}) - EXP(-{nexpr}))))"
