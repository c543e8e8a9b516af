"""ANSI-SQL text generators mirroring :mod:`vt_grid_spark.functions`.

These produce the DuckDB-oracle side of every SQL-expressible operator.
The expressions are kept textually parallel to the Column builders so both
engines evaluate the same IEEE-754 double operations (ln/sin/floor are
bit-stable across libm for the generic inputs our synthetic keys produce;
goldens for boundary behavior live in pytest instead — SURVEY.md §7 g8).
"""

from __future__ import annotations

import math


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


def tile_x_sql(lon: str, z: int) -> str:
    z2 = float(1 << z)
    n = (1 << z) - 1
    fx = f"(({z2} * (({lon})/360.0 + 0.5)) % {z2})"
    fx = f"(CASE WHEN {fx} < 0 THEN {fx} + {z2} ELSE {fx} END)"
    return f"CAST(LEAST(GREATEST(FLOOR({fx}), 0), {n}) AS BIGINT)"


def tile_y_sql(lat: str, z: int) -> str:
    z2 = float(1 << z)
    n = (1 << z) - 1
    s = f"SIN(RADIANS({lat}))"
    fy = f"({z2} * (0.5 - 0.25 * LN((1.0 + {s}) / (1.0 - {s})) / PI()))"
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


def tile_lat_sql(y: str, z: int) -> str:
    nexpr = f"({math.pi} - {2.0 * math.pi} * CAST({y} AS DOUBLE) / {float(1 << z)})"
    return f"DEGREES(ATAN(0.5 * (EXP({nexpr}) - EXP(-{nexpr}))))"


def tile_lon_sql(x: str, z: int) -> str:
    return f"(CAST({x} AS DOUBLE) / {float(1 << z)} * 360.0 - 180.0)"


def tile_lon_dyn_sql(x: str, zoom: str) -> str:
    """Per-row-zoom variant of :func:`tile_lon_sql` — POWER(2.0, z) is
    exact for integer z, so the double ops match the literal-z text."""
    return f"(CAST({x} AS DOUBLE) / POWER(2.0, {zoom}) * 360.0 - 180.0)"


def tile_lat_dyn_sql(y: str, zoom: str) -> str:
    nexpr = (f"({math.pi} - {2.0 * math.pi} * CAST({y} AS DOUBLE)"
             f" / POWER(2.0, {zoom}))")
    return f"DEGREES(ATAN(0.5 * (EXP({nexpr}) - EXP(-{nexpr}))))"
