"""The pyramid rollup: cells at zoom z -> their ancestors at z-1 .. min_z.

The reference buckets children by parent quadkey
(/root/reference/lib/aggregate-cells.js:26-50, ``getParent∘quadkeyToTile`` =
drop-last-char).  Here a rollup is ONE hash aggregation on integer keys —
no geometry, no strings in the grouping key: ``(x>>1, y>>1)`` for one
level (a Spark level of a build or a fold), ``(zoom, x>>d, y>>d)`` for a
band of levels at once (the batch-of-group-bys shape of LMFAO, VLDB'20).
The multi-level form serves the in-memory ``build_pyramid_df`` and the
queries that roll a ladder up in one plan; a written pyramid's small
upper levels are derived on the driver (``pyramid._write_tail``).  A
level is ``zoom, x, y`` plus aggregates: the quadkey is presentation,
derived (``vf.quadkey``) where a level is presented, never stored.

Scale notes (100 TB / 1000 executors):
  * Algebraic reducers (count/sum/min/max/mean/AWM partials) are immune to
    key skew: Catalyst's map-side partial aggregation emits at most one row
    per (task, key), so a hot cell's final combine sees <= #tasks rows.
    No salt needed — adding one would only double the shuffle.
  * Holistic reducers (``aggspec.is_holistic``: union and kmvDistinct
    merges; custom applyInPandas too) DO concentrate a hot cell's raw rows
    in one task.  ``rollup_ancestors(salt_buckets=...)`` runs the classic
    two-phase (key, salt)->key aggregation for those (north_rule: explicit
    salted-key skew handling; SURVEY.md §7 g5).
  * Each level shrinks keys 4x; AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vt_grid_spark import functions as vf
from vt_grid_spark.plans.aggspec import (AggSpec, compile_rollup_aggs, is_holistic,
                                         partial_columns)


def rollup_ancestors(cells: DataFrame, child_z: int, min_z: int,
                     specs: list[AggSpec], salt_buckets: int = 0) -> DataFrame:
    """Every ancestor level of cells at child_z, zooms child_z-1 .. min_z,
    as ONE hash aggregation: each cell is emitted once per ancestor
    ``(child_z-d, x>>d, y>>d)``, d = 1..child_z-min_z, and grouped on
    ``(zoom, x, y)`` with the rollup combiners.  Equal to rolling up one
    level at a time because every combiner is a commutative monoid; the
    specs must hold for the whole range (a zoom band).  One level
    (``min_z = child_z - 1``) needs no explode: it groups on the parent
    ``(x>>1, y>>1)`` and attaches the constant zoom afterwards.

    ``salt_buckets > 1`` with a holistic spec first aggregates per
    (key, hash(child cell) mod salt_buckets), then per key.
    Output: zoom, x, y, aggregates."""
    cols = partial_columns(specs)
    missing = [c for c in cols if c not in cells.columns]
    if missing:
        raise ValueError(
            f"rollup input is missing aggregate columns {missing}: rollup "
            "consumes the OUTPUT of a previous cell_aggregate/rollup_ancestors "
            "(columns named spec.out / spec.out__*), not raw feature columns "
            "(spec.field is only read at the base level)")
    salt = ([F.pmod(F.xxhash64("x", "y"), F.lit(salt_buckets)).alias("_salt")]
            if salt_buckets > 1 and is_holistic(specs) else [])
    if child_z - min_z == 1:
        keys = ["x", "y"]
        px, py = vf.parent_xy(F.col("x"), F.col("y"))
        rows = cells.select(px.alias("x"), py.alias("y"), *cols, *salt)
    else:
        keys = ["zoom", "x", "y"]
        rows = (
            cells.select("x", "y", *cols, *salt,
                         F.explode(F.sequence(F.lit(1), F.lit(child_z - min_z)))
                         .alias("_d"))
            .select((F.lit(child_z) - F.col("_d")).alias("zoom"),
                    F.expr("shiftright(x, _d)").alias("x"),
                    F.expr("shiftright(y, _d)").alias("y"), *cols,
                    *(["_salt"] if salt else []))
        )
    if salt:
        rows = rows.groupBy(*keys, "_salt").agg(*compile_rollup_aggs(specs))
    out = rows.groupBy(*keys).agg(*compile_rollup_aggs(specs))
    zoom = F.col("zoom") if "zoom" in keys else F.lit(min_z).alias("zoom")
    return out.select(zoom, "x", "y", *cols)


def merge_cells(parts: list[DataFrame], zoom: int, specs: list[AggSpec]) -> DataFrame:
    """tile-join merge (S7; reference ``tile-join`` / includeBaseData,
    /root/reference/index.js:144-171): combine N cell tables AT THE SAME
    zoom into one, re-reducing aggregates cell-by-cell with the rollup
    combiners (sum of sums, min of mins, union of unions, mean/AWM
    partials carried).  One hash aggregation on integer (x, y) — a merge
    is a rollup without the parent shift, so it inherits the same
    map-side-partial skew immunity for algebraic reducers."""
    cols = ["x", "y", *partial_columns(specs)]
    for p in parts:
        missing = [c for c in cols if c not in p.columns]
        if missing:
            raise ValueError(f"merge input missing aggregate columns {missing}")
    base = parts[0].select(*cols)
    for p in parts[1:]:
        base = base.unionByName(p.select(*cols))
    grouped = base.groupBy("x", "y").agg(*compile_rollup_aggs(specs))
    return grouped.select(F.lit(zoom).alias("zoom"), *grouped.columns)

