"""Dense-cell view (reference grid-path parity), multi-band zoom stacks,
aggregation-spec validation."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vt_grid_spark import functions as vf
from vt_grid_spark.operators.encode import cell_aggregate, encode_points
from vt_grid_spark.operators.rollup import rollup_ancestors
from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs
from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
from vt_grid_spark.sources import pages


def densify(cells: DataFrame, parent_z: int, cell_z: int) -> DataFrame:
    """Dense-cell view for fixture parity: materialize all 4^(cell_z-parent_z)
    progeny of each occupied parent tile, left-joining real values
    (reference grid path emits empties, lib/aggregate-cells.js:39-47).
    The engine's levels stay sparse; this view lives with its test."""
    d = cell_z - parent_z
    span = 1 << d
    parents = (
        cells.select(F.shiftright("x", d).alias("_tx"), F.shiftright("y", d).alias("_ty"))
        .distinct()
    )
    grid = (
        parents
        .withColumn("_dx", F.explode(F.sequence(F.lit(0), F.lit(span - 1))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(0), F.lit(span - 1))))
        .select(
            (F.shiftleft("_tx", d) + F.col("_dx")).alias("x"),
            (F.shiftleft("_ty", d) + F.col("_dy")).alias("y"),
        )
    )
    return grid.join(cells, ["x", "y"], "left").withColumn(
        "zoom", F.lit(cell_z)
    ).withColumn("quadkey", vf.quadkey(F.col("x"), F.col("y"), cell_z))


def test_densify_materializes_empty_cells(spark):
    """The reference grid path emits all 4^d progeny cells including empty
    (/root/reference/lib/aggregate-cells.js:39-47); our engine is sparse
    with a densify view for parity (SURVEY.md §7 g3)."""
    pts = pages.with_coords(pages.pages_df(spark, 300))
    cells = cell_aggregate(encode_points(pts, 8, with_quadkey=False), 8,
                           compile_aggs([AggSpec(out="cnt", reducer="count")]))
    dense = densify(cells, parent_z=4, cell_z=8)
    n_parents = (
        cells.select(F.shiftright("x", 4).alias("tx"), F.shiftright("y", 4).alias("ty"))
        .distinct().count()
    )
    rows = dense.collect()
    assert len(rows) == n_parents * (1 << 4) ** 2  # dense: 256 cells/parent
    filled = [r for r in rows if r.cnt is not None]
    assert 0 < len(filled) < len(rows)
    got = {(r.x, r.y): r.cnt for r in filled}
    want = {(r.x, r.y): r.cnt for r in cells.collect()}
    assert got == want
    for r in rows[:50]:
        assert len(r.quadkey) == 8


def test_multiband_zoom_stack(spark):
    """Zoom-band option stacks (/root/reference/index.js:45-59): count at
    the first band, sum of counts below (README.md:66-74)."""
    from vt_grid_spark.operators.pyramid import build_pyramid_df

    pts = pages.with_coords(pages.pages_df(spark, 2000))
    plan = PyramidPlan(
        bands=[
            ZoomBand(basezoom=9, minzoom=7,
                     aggregations=[AggSpec(out="n", reducer="count")]),
            ZoomBand(basezoom=7, minzoom=4,
                     aggregations=[AggSpec(out="n", reducer="sum", field="n")]),
        ],
        gridsize=4,
    )
    levels = build_pyramid_df(pts, plan).cache()
    zooms = sorted(r.zoom for r in levels.select("zoom").distinct().collect())
    assert zooms == [5, 6, 7, 8, 9]  # cell zooms: base 8+1 .. 4+1
    total = pts.count()
    for z in zooms:
        s = levels.where(F.col("zoom") == z).agg(F.sum("n")).collect()[0][0]
        assert s == total  # count then sum-of-counts conserves
    levels.unpersist()


def test_band_continuity_validated():
    with pytest.raises(ValueError, match="gap/overlap"):
        PyramidPlan(bands=[
            ZoomBand(basezoom=9, minzoom=7, aggregations=[]),
            ZoomBand(basezoom=6, minzoom=4, aggregations=[]),
        ])


def test_unknown_reducer_rejected():
    # mirrors /root/reference/bin/vt-grid:39-41
    with pytest.raises(ValueError, match="unknown reducer"):
        AggSpec(out="x", reducer="median", field="v")


def test_geojson_export_view(spark):
    """S5 NDJSON sink semantics: valid GeoJSON Features with the
    reference's property layout (aggregates + layer + _quadKey)."""
    import json

    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.sources.export import geojson_view

    pts = pages.with_coords(pages.pages_df(spark, 500))
    cells = cell_aggregate(encode_points(pts, 6), 6,
                           compile_aggs([AggSpec(out="cnt", reducer="count")]))
    out = geojson_view(cells, 6, ["cnt"], layer="pages").collect()
    assert len(out) == cells.count()
    feat = json.loads(out[0].feature)
    assert feat["type"] == "Feature"
    assert feat["geometry"]["type"] == "Polygon"
    ring = feat["geometry"]["coordinates"][0]
    assert len(ring) == 5 and ring[0] == ring[4]
    assert set(feat["properties"]) == {"cnt", "layer", "_quadKey"}
    assert len(feat["properties"]["_quadKey"]) == 6
    # cell polygon derives from the quadkey exactly
    from vt_grid_spark import tilemath as tm
    x, y, z = tm.quadkey_to_tile(feat["properties"]["_quadKey"])
    w, s, e, n = tm.tile_to_bbox(x, y, z)
    assert abs(ring[0][0] - float(w)) < 1e-12 and abs(ring[0][1] - float(s)) < 1e-12


def test_geojson_export_view_of_stored_level(spark, tmp_path):
    """A stored level holds no quadkey: the export view derives each
    feature's ``_quadKey`` from the level's (x, y) at its zoom."""
    import json

    from vt_grid_spark import tilemath as tm
    from vt_grid_spark.operators.pyramid import build_pyramid
    from vt_grid_spark.sources.export import geojson_view
    from vt_grid_spark.sources.table_io import TableIO

    plan = PyramidPlan(bands=[ZoomBand(basezoom=6, minzoom=4,
                                       aggregations=[AggSpec(out="cnt", reducer="count")])],
                       gridsize=4)
    io = TableIO(str(tmp_path / "pyr"))
    build_pyramid(pages.with_coords(pages.pages_df(spark, 500)), plan, io, resume=False)
    for z in (6, 5):  # a Spark level and a tail level
        level = io.read_level(spark, z)
        assert "quadkey" not in level.columns
        cells = {(r.x, r.y): r.cnt for r in level.collect()}
        props = [json.loads(r.feature)["properties"]
                 for r in geojson_view(level, z, ["cnt"]).collect()]
        got = {tm.quadkey_to_tile(p["_quadKey"]): p["cnt"] for p in props}
        assert got == {(x, y, z): c for (x, y), c in cells.items()} and got


def test_parse_agg_strings_reference_semantics():
    """CLI strings parse like /root/reference/bin/vt-grid:30-44: output
    property = field name, one spec per string, unknown reducers raise."""
    from vt_grid_spark.plans.aggspec import parse_agg_strings

    aggs = parse_agg_strings(["roads:sum(km)", "roads:count(n)", "pop:areaWeightedMean(density)"])
    assert set(aggs) == {"roads", "pop"}
    assert [(s.out, s.reducer, s.field) for s in aggs["roads"]] == [
        ("km", "sum", "km"), ("n", "count", "n")]
    assert aggs["pop"][0].reducer == "areaWeightedMean"
    with pytest.raises(ValueError, match="Unknown|unknown"):
        parse_agg_strings(["roads:frobnicate(km)"])
    with pytest.raises(ValueError, match="bad aggregation string"):
        parse_agg_strings(["no-parens"])


def test_rollup_validates_input_contract(spark):
    """rollup_ancestors must reject a frame that lacks the spec.out
    aggregate columns (ADVICE r1: silent misuse when out != field)."""
    pts = pages.with_coords(pages.pages_df(spark, 50))
    enc = encode_points(pts, 6, with_quadkey=False)
    with pytest.raises(ValueError, match="missing aggregate columns"):
        rollup_ancestors(enc, 6, 5, [AggSpec(out="total", reducer="sum", field="n")])
