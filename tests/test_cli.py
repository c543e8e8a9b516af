"""CLI surface (python -m vt_grid_spark) — the reference bin/vt-grid
migration path, driven end-to-end in-process."""

import sqlite3

from pyspark.sql import functions as F

from vt_grid_spark.__main__ import build_parser, main
from vt_grid_spark.sources import pages
from vt_grid_spark.sources.table_io import TableIO


def _level_files(spark, out, z):
    """A level read straight from its ``zoom=<z>`` directory, which after
    a publish holds exactly the live generation one directory down."""
    return spark.read.option("recursiveFileLookup", "true").parquet(f"{out}/zoom={z}")


def test_cli_parquet_build_and_export(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "pts.parquet")
    (pages.with_coords(pages.pages_df(spark, 1500))
     .withColumn("chars", F.length("text").cast("double"))
     .select("url", "lon", "lat", "chars").write.parquet(src))
    out = str(tmp_path / "grid")

    rc = main([src, "-o", out, "--basezoom", "7", "--minzoom", "5",
               "--gridsize", "16", "--aggregations", "pages:count()",
               "pages:sum(chars)", "--export-mbtiles", "2", "--quiet"])
    assert rc == 0

    # manifests + levels exist (cell zooms 8,7 for outputs 6,5 at 4x4 grid)
    for z in (8, 7):
        m = TableIO(out).read_manifest(z)
        assert m["status"] == "complete" and m["row_count"] > 0
        assert _level_files(spark, out, z).count() == m["row_count"]

    # the exported mbtiles re-ingests to the same cell counts
    con = sqlite3.connect(f"{out}/grid.mbtiles")
    n_tiles = con.execute("SELECT COUNT(*) FROM tiles").fetchone()[0]
    con.close()
    assert n_tiles > 0
    from vt_grid_spark.sources import mvt
    feats = mvt.decode_tiles_df(mvt.read_mbtiles(spark, f"{out}/grid.mbtiles"))
    got = feats.where(F.col("z") == 6).count()
    assert got == TableIO(out).read_manifest(8)["row_count"]


def test_cli_mbtiles_input_roundtrip(spark, tmp_path):
    """mbtiles in -> pyramid out: point features with numeric props ride
    the true decode path into the build."""
    from vt_grid_spark.sources import mvt

    z = 6
    tiles = []
    for i in range(4):
        feats = [{"geom_type": 1, "parts": [[(500 * j + 100, 700)]],
                  "props": {"v": float(j + 1)}, "id": j} for j in range(3)]
        tiles.append((z, 30 + i, 25, mvt.encode_tile({"pages": feats})))
    src = str(tmp_path / "in.mbtiles")
    mvt.write_mbtiles(src, tiles)
    out = str(tmp_path / "g2")

    rc = main([src, "-o", out, "--minzoom", "4", "--gridsize", "4",
               "--aggregations", "pages:count()", "pages:sum(v)", "--quiet"])
    assert rc == 0
    base = _level_files(spark, out, 6)  # basezoom 6 + log4(4)=1 -> 7? see below
    # basezoom defaults to input maxzoom (6); base cell zoom = 6 (output 5 + 1)
    total = base.agg(F.sum("count").alias("s")).collect()[0].s \
        if "count" in base.columns else base.agg(F.sum("cnt")).collect()[0][0]
    assert total == 12  # every decoded point reaches the grid


def test_cli_rejects_js_modules(capsys):
    rc = main(["in.parquet", "-o", "out", "--aggregations", "custom.js"])
    assert rc == 2
    assert "reducer-module" in capsys.readouterr().err


def test_cli_reducer_module_build(spark, tmp_path):
    """--reducer-module: a pyramid built through a user module file's
    factory (the reference's worker-side module loading,
    lib/aggregate.js:26-36, in Python form).  The module-level reducer
    function is pickled BY REFERENCE, so this also proves the CLI ships
    the file to the Python workers (addPyFile)."""
    src = str(tmp_path / "pts.parquet")
    (pages.with_coords(pages.pages_df(spark, 800))
     .withColumn("chars", F.length("text").cast("double"))
     .select("url", "lon", "lat", "chars").write.parquet(src))
    n_pts = spark.read.parquet(src).count()

    mod = tmp_path / "med_reducer.py"
    mod.write_text(
        "def reduce_median(pdf, tile):\n"
        "    assert len(tile) == 3  # (z, x, y) mapper tile rides in\n"
        "    return {'median_chars': float(pdf['chars'].median()),\n"
        "            'n': int(len(pdf))}\n"
        "\n"
        "def factory():\n"
        "    return {'reduce_fn': reduce_median,\n"
        "            'result_schema': 'median_chars double, n long',\n"
        "            'layer': 'pages'}\n")
    out = str(tmp_path / "grid")

    rc = main([src, "-o", out, "--basezoom", "6", "--minzoom", "5",
               "--gridsize", "4", "--reducer-module", f"{mod}:factory",
               "--quiet"])
    assert rc == 0

    # cell zooms 7, 6 (output 6, 5 at 2x2 grid); medians are re-reduced
    # from raw per level, so every level's n must sum to the input size
    for z in (7, 6):
        m = TableIO(out).read_manifest(z)
        assert m["status"] == "complete" and m["row_count"] > 0
        assert m["lineage"]["op"] == "custom-reduce"
        lvl = _level_files(spark, out, z)
        assert lvl.agg(F.sum("n")).collect()[0][0] == n_pts
        assert set(lvl.columns) == {"x", "y", "median_chars", "n"}  # no stored quadkey

    # flag exclusivity: neither or both -> usage error
    assert main([src, "-o", out, "--basezoom", "6"]) == 2
    assert main([src, "-o", out, "--basezoom", "6", "--aggregations",
                 "pages:count()", "--reducer-module", f"{mod}:factory"]) == 2


def test_cli_reducer_module_refuses_shadowing(tmp_path, capsys):
    """r6 (ADVICE r5): a .py reducer file whose basename matches an
    already-imported module (json.py shadowing the stdlib) must be
    rejected with exit 2 instead of silently replacing the module in
    sys.modules for later driver imports."""
    from vt_grid_spark.__main__ import main

    bad = tmp_path / "json.py"
    bad.write_text("def factory():\n    return {}\n")
    rc = main(["in.parquet", "-o", str(tmp_path / "out"),
               "--reducer-module", f"{bad}:factory"])
    assert rc == 2
    assert "collides" in capsys.readouterr().err
    import json as _json  # stdlib must be untouched
    assert _json.dumps({"a": 1}) == '{"a": 1}'
