"""Pyramid driver: the reference's per-level recursion (index.js:94-162)
as a checkpointed Spark loop.

Each Spark level is one shuffle stage (groupBy on the integer parent
key); every level is staged in its own generation with a record (the
resume point), and one ``TableIO.commit`` publishes them all at the end,
as the reference's final tile-join creates its output (index.js:151-175).
As in the reference, which feeds each level's mbtiles into the next
(index.js:151-159), the next level reads the level below back from the
generation it was just written to: a level read starts no Spark job, and
the write, of a plan nothing caches, keeps AQE's partition coalescing.

``build_pyramid`` and ``incremental_update`` run one level loop
(``_write_levels``) and differ only in how a Spark level is made.  The
small top of the pyramid (below ``SMALL_LEVEL_ROWS``) is the tail: the
last Spark level is read to the driver as Arrow once, and each tail level
is derived there from the level below it, as the reference derives each
zoom from the one below, with no Spark aggregation.  A fold merges the
delta in Spark only while levels are big.  Every path merges with the
combiners of ``aggspec.REDUCERS``, the one place a reducer's merge rule is
defined: Spark levels run them as Catalyst aggregates
(``compile_rollup_aggs``), the tail as Arrow kernels (``merge_arrow``).
"""

from __future__ import annotations

from itertools import takewhile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vt_grid_spark.operators.encode import (cell_aggregate, cover_cell_predicate,
                                            cover_lonlat_predicate, cover_ranges,
                                            encode_points)
from vt_grid_spark.operators.rollup import merge_cells, rollup_ancestors
from vt_grid_spark.plans.aggspec import (compile_aggs, count_column, is_holistic,
                                          merge_arrow)
from vt_grid_spark.plans.pyramid_plan import PyramidPlan
from vt_grid_spark.sources.table_io import TableIO

# below this many rows a level's remaining ancestors are derived on the
# driver from the level read once as Arrow, with no Spark job per level: at
# the top of the pyramid each level is one near-empty Spark job (~0.5-2 s
# of pure scheduling), and 10+ such levels are the serial fraction that
# caps scaling efficiency.  The driver holds the level read and the level
# being derived, each at most this many rows.
SMALL_LEVEL_ROWS = 1_000_000


def _apply_cover(points: DataFrame, plan: PyramidPlan, cell_z: int) -> DataFrame:
    """Encode at cell_z, restricted to the plan's bbox / tile-list cover
    (reference index.js:113-122).  Two-stage filter: a conservative lon/lat
    range predicate on the RAW columns first (reaches the parquet scan as
    PushedFilters — partition/row-group pruning), then the exact integer
    cell-range predicate on the encoded key."""
    ranges = cover_ranges(cell_z, plan.bbox, plan.tiles)
    if ranges:
        points = points.where(cover_lonlat_predicate(ranges, cell_z))
    return (encode_points(points, cell_z, with_quadkey=False)
            .where(cover_cell_predicate(ranges)))  # no cover: a pruned where(true)


def _tracked_count(plan: PyramidPlan, band) -> str | None:
    """The count column whose per-cell max a level of ``band`` records as
    ``max_cell_rows`` (SURVEY.md §7 g5 re-salt rule): the band's own count
    column, or None.  Holistic reducers concentrate a hot cell's values in
    one task, so a holistic rollup salts only when the previous level's max
    exceeds ``plan.hot_key_threshold``; plans with no holistic reducer track
    nothing, since algebraic aggs are skew-immune via map-side partials."""
    if not is_holistic([s for b in plan.bands for s in b.aggregations]):
        return None
    return count_column(band.aggregations)


def _write_levels(spark: SparkSession, io: TableIO, plan: PyramidPlan,
                  spark_level, keep=None) -> dict:
    """The level loop both writers run, from the deepest zoom up.  A level
    ``keep`` holds keeps its record; otherwise a level is a Spark level
    while the level below it holds ``SMALL_LEVEL_ROWS`` or more rows (the
    first level always is): ``spark_level(cell_z, band, child)``, given
    the record of the level below (None for the first level), returns
    the level's DataFrame and lineage, and the loop writes it.  Otherwise
    the tail (:func:`_write_tail`) derives the levels up to the next one
    ``keep`` holds.  Returns {cell_zoom: manifest}."""
    levels = list(plan.levels())  # [(output_z, cell_z, band)] desc
    manifests: dict[int, dict] = {}
    for i, (output_z, cell_z, band) in enumerate(levels):
        if cell_z in manifests:  # written by the tail
            continue
        child = manifests.get(cell_z + 1)
        if keep and keep(cell_z):
            manifests[cell_z] = io.read_manifest(cell_z)
        elif child is None or child["row_count"] >= SMALL_LEVEL_ROWS:
            level, lineage = spark_level(cell_z, band, child)
            manifests[cell_z] = io.write_level(
                level, cell_z, {**lineage, "output_tile_zoom": output_z},
                count_col=_tracked_count(plan, band))
        else:
            run = takewhile(lambda lv: not (keep and keep(lv[1])), levels[i:])
            manifests.update(_write_tail(spark, io, plan, list(run), cell_z + 1))
    return manifests


def build_pyramid(points: DataFrame, plan: PyramidPlan, io: TableIO,
                  resume: bool = True) -> dict:
    """points(lon, lat, value columns) -> one written level per output zoom.

    Levels are keyed by CELL zoom (output tile zoom + log4(gridsize)), so
    level z's cells are exactly the direct parents of level z+1's cells
    and each rollup is `groupBy(x>>1, y>>1)` — the quadkey-prefix
    invariant (SURVEY.md §2.3 G2).  The base level is the encoded points'
    aggregate; each Spark level above it rolls up the level below, read
    back from its generation.

    The build is one ``io.commit``: every level is written to a fresh
    generation and staged, and all of them are published together at the
    end, so a crash leaves the previous pyramid readable.  ``resume=True``
    continues a build interrupted since the last publish, keeping the
    levels it staged, or else keeps the published levels and builds the
    missing ones; ``resume=False`` builds every level and publishes a
    pyramid made of exactly them.

    Returns {cell_zoom: manifest}.
    """
    spark = points.sparkSession

    def spark_level(cell_z: int, band, child: dict | None):
        if child is None:
            return (cell_aggregate(_apply_cover(points, plan, cell_z), cell_z,
                                   compile_aggs(band.aggregations)),
                    {"input": "points", "op": "encode+aggregate"})
        # hot-key rule: salt a holistic rollup when the child's recorded
        # max_cell_rows is above the threshold, or unknown (no count spec)
        salt = 0
        if plan.salt_buckets > 1 and is_holistic(band.aggregations):
            hot = child.get("max_cell_rows")
            salt = plan.salt_buckets if hot is None or hot > plan.hot_key_threshold else 0
        return (rollup_ancestors(io.read_level(spark, cell_z + 1), cell_z + 1, cell_z,
                                 band.aggregations, salt_buckets=salt),
                {"input": f"zoom={cell_z + 1}", "op": "rollup",
                 "salted": salt > 1, "salt_buckets": salt})

    with io.commit("resume" if resume else "empty"):
        return _write_levels(spark, io, plan, spark_level,
                             keep=io.level_complete if resume else None)


def _write_tail(spark: SparkSession, io: TableIO, plan: PyramidPlan, todo: list,
                child_z: int) -> dict:
    """The tail: derive the levels ``todo`` ([(output_z, cell_z, band)],
    descending from ``child_z - 1``) on the driver.  The level at
    ``child_z`` is read back from its generation as Arrow (one scan job);
    each level is then the level below grouped on ``(x >> 1, y >> 1)`` with
    its band's combiners (``aggspec.merge_arrow``), cast to the child's
    column types, and written.  Returns {cell_zoom: manifest}."""
    child = io.read_level(spark, child_z).drop("zoom").toArrow()
    manifests: dict[int, dict] = {}
    for output_z, cell_z, band in todo:
        x, y = (child[k].to_numpy() >> 1 for k in ("x", "y"))
        level = merge_arrow(child, x, y, band.aggregations)
        child = level.cast(pa.schema([f.with_type(child.schema.field(f.name).type)
                                      for f in level.schema]))
        manifests[cell_z] = io.write_level_pandas(
            child, cell_z,
            lineage={"input": f"zoom={cell_z + 1}", "op": "rollup-small",
                     "output_tile_zoom": output_z},
            count_col=_tracked_count(plan, band))
    return manifests


def incremental_update(delta_points: DataFrame, plan: PyramidPlan,
                       io: TableIO) -> dict:
    """Fold a NEW batch of points into an existing COMPLETE pyramid without
    re-reading raw history (reference users re-run vt-grid over the whole
    mbtiles; here the checkpointed levels + mergeable reducers make the
    delta path exact: every reducer's rollup combiner is a commutative
    monoid, so merge(existing_level, rollup(delta)) == rebuild over the
    union — asserted level-by-level in tests/test_pyramid.py).

    The fold runs the build's level loop (:func:`_write_levels`): Spark
    merges a level only while the level below it, merged, holds
    ``SMALL_LEVEL_ROWS`` or more rows (the base level always); the levels
    above are then derived from that merged level, read back from its new
    generation, by the build's tail.  Per Spark level (100 TB pyramid,
    small delta): the delta's partials, rolled up from the previous
    level's, are computed once by an eager localCheckpoint; the untouched
    existing rows pass a broadcast LEFT ANTI join on the delta's keys (no
    shuffle of the big table), and only the touched slice is hash-merged
    with the partials.  Every record tracks ``max_cell_rows`` by the
    build's rule (:func:`_tracked_count`), so a record that lacks it
    regains it.  Deletes are out of scope (append-only corpus,
    min/max/union/kmv are insert-monotone).

    The fold is one ``io.commit``: each written level goes to a fresh
    generation and all of them are published together, with ``io``'s
    ``delta_id`` as the last applied delta.  A crash leaves the pyramid
    unfolded, so a re-run folds the delta exactly once; a fold whose
    ``delta_id`` the published snapshot already records folds nothing and
    publishes the same levels.  The checks read the snapshot the commit
    read, so the call reads the published snapshot once.
    """
    spark = delta_points.sparkSession
    levels = list(plan.levels())
    delta = None  # the delta's partials at the last Spark level

    def spark_level(cell_z: int, band, child: dict | None):
        nonlocal delta
        # eager: a lazy persist is filled by nobody before the merge's
        # query stages start, so each would recompute the partials at
        # full shuffle width; the checkpoint is AQE-coalesced
        delta = (cell_aggregate(_apply_cover(delta_points, plan, cell_z), cell_z,
                                compile_aggs(band.aggregations)) if child is None
                 else rollup_ancestors(delta, cell_z + 1, cell_z, band.aggregations)
                 ).localCheckpoint(eager=True)
        keys = F.broadcast(delta.select("x", "y"))
        existing = io.read_level(spark, cell_z)
        merged = merge_cells([existing.join(keys, ["x", "y"], "left_semi"), delta],
                             cell_z, band.aggregations)
        untouched = existing.join(keys, ["x", "y"], "left_anti")
        # the write (to a new generation) is the merge's only
        # materialization; max_cell_rows is observed on it
        return (untouched.select(*merged.columns).unionByName(merged),
                {"input": f"zoom={cell_z}+delta", "op": "incremental-merge",
                 "previous_row_count": io.read_manifest(cell_z).get("row_count")})

    with io.commit():
        for _, cell_z, _ in levels:
            if not io.level_complete(cell_z):
                raise ValueError(
                    f"incremental_update needs a complete pyramid; zoom {cell_z} "
                    "is missing — run build_pyramid first (resume finishes a "
                    "partial build)")
        if io.delta_applied():
            return {cell_z: io.read_manifest(cell_z) for _, cell_z, _ in levels}
        return _write_levels(spark, io, plan, spark_level)


def build_pyramid_df(points: DataFrame, plan: PyramidPlan) -> DataFrame:
    """In-memory variant (no checkpointing): union of all levels as one
    DataFrame — used by tests and the DuckDB-oracle queries where writing
    to disk is unnecessary.  The base aggregate plus one
    ``rollup_ancestors`` per zoom band: each band rolls up from the
    previous band's last level with its own specs, as a written build's
    levels do.  No salting: the hot-key rule needs the per-level
    observations of a build."""
    levels = list(plan.levels())
    _, base_cell_z, base_band = levels[0]
    base = cell_aggregate(_apply_cover(points, plan, base_cell_z), base_cell_z,
                          compile_aggs(base_band.aggregations))
    result, top, top_z = base, base, base_cell_z
    for band in plan.bands:
        zooms = [z for _, z, b in levels[1:] if b is band]  # descending
        if zooms:
            batch = rollup_ancestors(top, top_z, zooms[-1], band.aggregations)
            result = result.unionByName(batch)
            top, top_z = batch.where(F.col("zoom") == zooms[-1]), zooms[-1]
    return result
