"""Pyramid driver: the reference's per-level recursion (index.js:94-162)
as a checkpointed Spark loop.

Each output level is one shuffle stage (groupBy on the integer parent
key); every level is staged in its own generation with a record (the
resume point, mirroring the reference feeding each level's mbtiles into
the next, index.js:151-159), and one ``TableIO.commit`` publishes them
all at the end, as the reference's final tile-join creates its output
(index.js:151-175).  Within a run the next rollup reads the
previous level from the block-manager CACHE (persisted during the level's
own write job), not back off parquet — the checkpoint write is the
durability path, never a serial decode on the critical path.  On resume
the cache is cold and the level IS re-read from its checkpoint.

The small top of the pyramid (below ``SMALL_LEVEL_ROWS``) is the tail,
which both writers share: one ``rollup_ancestors`` aggregation per zoom
band derives all of its levels at once, collected to the driver as one
Arrow table and written per level.  A fold merges the delta in Spark only
while levels are big.  All paths use the combiners of
``compile_rollup_aggs``, derived from ``aggspec.REDUCERS``, the one place
a reducer's merge rule is defined.
"""

from __future__ import annotations

from itertools import groupby, takewhile

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vt_grid_spark.operators.encode import (cell_aggregate, cover_cell_predicate,
                                            cover_lonlat_predicate, cover_ranges,
                                            encode_points)
from vt_grid_spark.operators.rollup import merge_cells, rollup_ancestors
from vt_grid_spark.plans.aggspec import compile_aggs, count_column, is_holistic
from vt_grid_spark.plans.pyramid_plan import PyramidPlan
from vt_grid_spark.sources.table_io import TableIO

# below this many rows a level's remaining ancestors (to the end of its zoom
# band) are derived by ONE batched Spark aggregation and written from the
# driver: at the top of the pyramid each level is one near-empty Spark job
# (~0.5-2 s of pure scheduling), and 10+ such levels are the serial
# fraction that caps scaling efficiency.  The collected batch holds the
# band's remaining levels: ~1/3 of the first small level's rows when cells
# are dense (each level ~4x smaller), at most that many rows per level when
# they are sparse.
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


def build_pyramid(points: DataFrame, plan: PyramidPlan, io: TableIO,
                  resume: bool = True, repartition: int | None = None) -> dict:
    """points(lon, lat, value columns) -> one written level per output zoom.

    Levels are keyed by CELL zoom (output tile zoom + log4(gridsize)), so
    level z's cells are exactly the direct parents of level z+1's cells
    and each rollup is `groupBy(x>>1, y>>1)` — the quadkey-prefix
    invariant (SURVEY.md §2.3 G2).

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
    manifests: dict[int, dict] = {}

    levels = list(plan.levels())  # [(output_z, cell_z, band)] desc
    base_output_z, base_cell_z, base_band = levels[0]

    # hot-key bookkeeping: every level write records max_cell_rows in the
    # record it stages (observed on a Spark level's write job, taken from
    # the collected table of a tail level), and _salt_for reads it
    def _salt_for(prev_zoom: int, band) -> int:
        if plan.salt_buckets <= 1 or not is_holistic(band.aggregations):
            return 0
        prev_max = manifests[prev_zoom].get("max_cell_rows")
        if prev_max is None:  # no count spec to measure with — stay safe
            return plan.salt_buckets
        return plan.salt_buckets if prev_max > plan.hot_key_threshold else 0

    with io.commit("resume" if resume else "empty"):
        # --- base level: encode + first aggregation -------------------------
        prev_df = None  # cached handle of the previous level within this run
        if resume and io.level_complete(base_cell_z):
            manifests[base_cell_z] = io.read_manifest(base_cell_z)
        else:
            encoded = _apply_cover(points, plan, base_cell_z)
            if repartition:
                encoded = encoded.repartition(repartition, "x", "y")
            base = cell_aggregate(encoded, base_cell_z,
                                  compile_aggs(base_band.aggregations)).persist()
            manifests[base_cell_z] = io.write_level(
                base, base_cell_z, {"input": "points", "op": "encode+aggregate",
                                    "output_tile_zoom": base_output_z},
                count_col=_tracked_count(plan, base_band))
            prev_df = base

        # --- rollup levels ---------------------------------------------------
        # distributed while levels are big, then the tail (SMALL_LEVEL_ROWS)
        # up to the next level a resume keeps
        for i, (output_z, cell_z, band) in enumerate(levels[1:], 1):
            if cell_z in manifests:  # written by a tail batch
                continue
            prev_cell_z = cell_z + 1
            cached, prev_df = prev_df, None  # only a Spark rollup is kept
            if resume and io.level_complete(cell_z):
                manifests[cell_z] = io.read_manifest(cell_z)
            elif manifests[prev_cell_z]["row_count"] < SMALL_LEVEL_ROWS:
                run = takewhile(lambda lv: not (resume and io.level_complete(lv[1])),
                                levels[i:])
                manifests.update(_write_tail(spark, io, plan, list(run),
                                             prev_cell_z, cached))
            else:
                salt = _salt_for(prev_cell_z, band)
                children = (cached if cached is not None
                            else io.read_level(spark, prev_cell_z))
                prev_df = rollup_ancestors(children, prev_cell_z, cell_z,
                                           band.aggregations, salt_buckets=salt).persist()
                manifests[cell_z] = io.write_level(
                    prev_df, cell_z, {"input": f"zoom={prev_cell_z}", "op": "rollup",
                                      "output_tile_zoom": output_z, "salted": salt > 1,
                                      "salt_buckets": salt},
                    count_col=_tracked_count(plan, band))
            if cached is not None:
                cached.unpersist()

        if prev_df is not None:
            prev_df.unpersist()
    return manifests


def _write_tail(spark: SparkSession, io: TableIO, plan: PyramidPlan, todo: list,
                child_z: int, children: DataFrame | None = None) -> dict:
    """The tail: derive the levels ``todo`` ([(output_z, cell_z, band)],
    descending from ``child_z - 1``) from the level at ``child_z``
    (``children``, else read from ``io``), one ``rollup_ancestors`` batch
    per zoom band, collected as Arrow and written per level.  A band
    boundary starts a new batch from the last level written: the next
    band's specs apply to it.  Returns {cell_zoom: manifest}."""
    manifests: dict[int, dict] = {}
    for _, run in groupby(todo, key=lambda lv: id(lv[2])):
        run = list(run)
        band, min_z = run[0][2], run[-1][1]
        if children is None:
            children = io.read_level(spark, child_z)
        batch = rollup_ancestors(children, child_z, min_z, band.aggregations).toArrow()
        # sorted (same files every run) on one int64 key, 4^z + x*2^z + y:
        # exact for zooms <= 31, ~4x faster than sort_by
        zoom, x, y = (batch[k].to_numpy().astype(np.int64) for k in ("zoom", "x", "y"))
        order = np.argsort((1 << 2 * zoom) | (x << zoom) | y)
        batch = batch.take(order)
        ends = zoom[order].searchsorted(range(min_z, child_z + 1))
        for output_z, cell_z, _ in run:
            i = cell_z - min_z
            manifests[cell_z] = io.write_level_pandas(
                batch.slice(ends[i], ends[i + 1] - ends[i]), cell_z,
                lineage={"input": f"zoom={cell_z + 1}", "op": "rollup-small",
                         "output_tile_zoom": output_z},
                count_col=_tracked_count(plan, band))
        children, child_z = None, min_z
    return manifests


def incremental_update(delta_points: DataFrame, plan: PyramidPlan,
                       io: TableIO) -> dict:
    """Fold a NEW batch of points into an existing COMPLETE pyramid without
    re-reading raw history (reference users re-run vt-grid over the whole
    mbtiles; here the checkpointed levels + mergeable reducers make the
    delta path exact: every reducer's rollup combiner is a commutative
    monoid, so merge(existing_level, rollup(delta)) == rebuild over the
    union — asserted level-by-level in tests/test_pyramid.py).

    By the build's rule, Spark merges a level only while the level below
    it, merged, holds ``SMALL_LEVEL_ROWS`` or more rows (the base level
    always); the levels above are then derived from that merged level,
    read back from its new generation, by the build's tail
    (:func:`_write_tail`).  Per Spark level (100 TB pyramid, small delta):
    the delta's partials, rolled up from the previous level's, are
    computed once by an eager localCheckpoint; the untouched existing rows
    pass a broadcast LEFT ANTI join on the delta's keys (no shuffle of the
    big table), and only the touched slice is hash-merged with the
    partials.  Every record tracks ``max_cell_rows``
    by the build's rule (:func:`_tracked_count`), so a record that lacks
    it regains it.  Deletes are out of scope (append-only corpus,
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
    manifests: dict[int, dict] = {}
    with io.commit():
        for _, cell_z, _ in levels:
            if not io.level_complete(cell_z):
                raise ValueError(
                    f"incremental_update needs a complete pyramid; zoom {cell_z} "
                    "is missing — run build_pyramid first (resume finishes a "
                    "partial build)")
        if io.delta_applied():
            return {cell_z: io.read_manifest(cell_z) for _, cell_z, _ in levels}
        for i, (output_z, cell_z, band) in enumerate(levels):
            if i and manifests[cell_z + 1]["row_count"] < SMALL_LEVEL_ROWS:
                # the tail reads the merged level back: persisted, the merge
                # would lose AQE's coalescing (a cached plan keeps its shuffle
                # width) and write many more files
                manifests.update(_write_tail(spark, io, plan, levels[i:], cell_z + 1))
                break
            # eager: a lazy persist is filled by nobody before the merge's
            # query stages start, so each would recompute the partials at
            # full shuffle width; the checkpoint is AQE-coalesced
            delta = (cell_aggregate(_apply_cover(delta_points, plan, cell_z), cell_z,
                                    compile_aggs(band.aggregations)) if i == 0
                     else rollup_ancestors(delta, cell_z + 1, cell_z, band.aggregations)
                     ).localCheckpoint(eager=True)
            keys = F.broadcast(delta.select("x", "y"))
            existing = io.read_level(spark, cell_z)
            merged = merge_cells([existing.join(keys, ["x", "y"], "left_semi"), delta],
                                 cell_z, band.aggregations)
            untouched = existing.join(keys, ["x", "y"], "left_anti")
            # the write (to a new generation) is the merge's only
            # materialization; max_cell_rows is observed on it
            manifests[cell_z] = io.write_level(
                untouched.select(*merged.columns).unionByName(merged), cell_z,
                lineage={"input": f"zoom={cell_z}+delta", "op": "incremental-merge",
                         "output_tile_zoom": output_z,
                         "previous_row_count": io.read_manifest(cell_z).get("row_count")},
                count_col=_tracked_count(plan, band))
    return manifests


def build_pyramid_df(points: DataFrame, plan: PyramidPlan) -> DataFrame:
    """In-memory variant (no checkpointing): union of all levels as one
    DataFrame — used by tests and the DuckDB-oracle queries where writing
    to disk is unnecessary.  The base aggregate plus one
    ``rollup_ancestors`` per zoom band, the build tail's shape: each band
    rolls up from the previous band's last level with its own specs.  No
    salting: the hot-key rule needs the per-level observations of a build."""
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
