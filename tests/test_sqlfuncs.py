"""Pure-SQL surface (functions/sqlfuncs.py): the vt_* SQL scalar
functions must agree exactly with the Column builders / tilemath, so an
all-SQL pipeline is a drop-in for the DataFrame API."""

from pyspark.sql import functions as F

from vt_grid_spark import functions as vf
from vt_grid_spark import tilemath as tm
from vt_grid_spark.functions.sqlfuncs import register_sql_functions
from vt_grid_spark.sources import pages


def test_sql_functions_match_column_builders(spark):
    register_sql_functions(spark)
    pts = pages.with_coords(pages.pages_df(spark, 500))
    pts.createOrReplaceTempView("_sqlf_pts")
    for z in (3, 7, 12):
        got = spark.sql(f"""
            SELECT url, vt_tile_x(lon, {z}) AS sx, vt_tile_y(lat, {z}) AS sy,
                   vt_quadkey(vt_tile_x(lon, {z}), vt_tile_y(lat, {z}), {z}) AS sqk
            FROM _sqlf_pts""")
        want = pts.select(
            "url", vf.tile_x("lon", z).alias("x"),
            vf.tile_y("lat", z).alias("y")).withColumn(
            "qk", vf.quadkey(F.col("x"), F.col("y"), z))
        j = got.join(want, "url")
        assert j.where((F.col("sx") != F.col("x"))
                       | (F.col("sy") != F.col("y"))
                       | (F.col("sqk") != F.col("qk"))).count() == 0
        assert j.count() == pts.count()
    # cell edges: every tile row/column index 0..2^z, bit for bit
    for z in (4, 9, 16):
        edges = spark.range(0, (1 << z) + 1).select(
            F.expr(f"vt_tile_lon(id, {z})").alias("sw"), vf.tile_lon("id", z).alias("w"),
            F.expr(f"vt_tile_lat(id, {z})").alias("sn"), vf.tile_lat("id", z).alias("n"))
        rows = edges.collect()
        assert [(repr(r.sw), repr(r.sn)) for r in rows] == [(repr(r.w), repr(r.n)) for r in rows]
        assert len(rows) == (1 << z) + 1


def test_sql_quadkey_roundtrip_and_lineage(spark):
    register_sql_functions(spark)
    rows = spark.sql("""
        WITH t AS (SELECT id AS x, (id * 7) % 128 AS y FROM range(0, 128)),
        q AS (SELECT x, y, vt_quadkey(x, y, 7) AS qk FROM t)
        SELECT x, y, qk, vt_quadkey_x(qk) AS rx, vt_quadkey_y(qk) AS ry,
               vt_parent_x(x) AS px, vt_parent_y(y) AS py,
               vt_is_ancestor(x, y, 7, shiftright(x, 3), shiftright(y, 3), 4) AS anc,
               vt_is_ancestor(x, y, 7, shiftright(x, 3) + 1, shiftright(y, 3), 4) AS not_anc
        FROM q""").collect()
    assert len(rows) == 128
    for r in rows:
        assert (r.rx, r.ry) == (r.x, r.y)                 # quadkey inverts
        assert r.qk == tm.tile_to_quadkey(r.x, r.y, 7)    # numpy twin
        assert (r.px, r.py) == tm.parent(r.x, r.y, 7)[:2]
        assert r.anc and not r.not_anc
    # z=0 root tile: '' quadkey (sequence(1,0) is DESCENDING in Spark —
    # the guard must short-circuit), and the inverse maps '' -> (0, 0)
    root = spark.sql("SELECT vt_quadkey(0, 0, 0) AS qk, "
                     "vt_quadkey_x('') AS x, vt_quadkey_y('') AS y").collect()[0]
    assert (root.qk, root.x, root.y) == ("", 0, 0)


def test_sql_cell_pack_exact_at_high_zoom(spark):
    """vt_cell_x/vt_cell_y must decode with integer bit math — packed ids
    exceed 2^53 at z=28, where double division silently corrupts y."""
    register_sql_functions(spark)
    z, n = 28, 1 << 28
    rows = spark.sql(f"""
        WITH t AS (SELECT id * 76543217 % {n} AS x, (id * 1234577) % {n} AS y
                   FROM range(0, 500))
        SELECT x, y, vt_cell_id(x, y, {z}) AS cell,
               vt_cell_x(vt_cell_id(x, y, {z}), {z}) AS rx,
               vt_cell_y(vt_cell_id(x, y, {z}), {z}) AS ry
        FROM t""").collect()
    assert max(r.cell for r in rows) > (1 << 53)
    for r in rows:
        assert (r.rx, r.ry) == (r.x, r.y)


def test_sql_pipeline_equals_dataframe_pipeline(spark):
    """A whole encode+rollup written in spark.sql matches the DataFrame
    pyramid path cell-for-cell."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points

    register_sql_functions(spark)
    pts = pages.with_coords(pages.pages_df(spark, 1000)) \
        .withColumn("v", F.length("text").cast("double"))
    pts.createOrReplaceTempView("_sqlf_pipe")
    sql_cells = spark.sql("""
        SELECT vt_parent_x(x) AS x, vt_parent_y(y) AS y,
               SUM(cnt) AS cnt, SUM(sum_v) AS sum_v
        FROM (
          SELECT vt_tile_x(lon, 8) AS x, vt_tile_y(lat, 8) AS y,
                 COUNT(*) AS cnt, SUM(v) AS sum_v
          FROM _sqlf_pipe GROUP BY 1, 2
        ) GROUP BY 1, 2""")
    df_cells = cell_aggregate(
        encode_points(pts, 8, with_quadkey=False), 8,
        [F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v")]) \
        .groupBy(F.shiftright("x", 1).alias("x"),
                 F.shiftright("y", 1).alias("y")) \
        .agg(F.sum("cnt").alias("cnt"), F.sum("sum_v").alias("sum_v"))
    a = {(r.x, r.y): (r.cnt, r.sum_v) for r in sql_cells.collect()}
    b = {(r.x, r.y): (r.cnt, r.sum_v) for r in df_cells.collect()}
    assert a == b and len(a) > 10


def test_sq_literal_roundtrip(spark):
    """sqltext.sq: a quoted word parses back to itself under
    ``escapedStringLiterals=false``, which ``get_spark`` pins — quotes,
    backslashes and elisions included."""
    from vt_grid_spark.functions.sqltext import sq

    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    words = ["l'", "po'", "it's", "back\\slash", "\\'", "''", "\\", "a\\nb"]
    row = spark.sql("SELECT " + ", ".join(sq(w) for w in words)).first()
    assert list(row) == words


def test_sqltext_tile_twins_match_column_builders(spark):
    """The generated-SQL tile twins (kNN encodes with them, in their
    DOUBLE-literal form) equal the Column builders bit for bit in both
    literal forms, on random points and on both sides of tile edges; with
    a per-row zoom column they equal the literal-zoom results."""
    import numpy as np

    from vt_grid_spark.functions import sqltext as sq

    rng = np.random.default_rng(3)
    lon = [float(v) for v in rng.uniform(-180, 180, 2000)] + [-180.0, 180.0, -0.0]
    lat = [float(v) for v in rng.uniform(-89.9, 89.9, 2000)] + [89.99, -89.99, -0.0]
    for x in range(16):
        w, s, _, n = (float(v) for v in tm.tile_to_bbox(x, x, 4))
        lon += [w, float(np.nextafter(w, 1e9)), float(np.nextafter(w, -1e9))]
        lat += [n, float(np.nextafter(n, 1e9)), float(np.nextafter(s, -1e9))]
    zoom = [(4, 9)[i % 2] for i in range(len(lon))]
    df = spark.createDataFrame(list(zip(lon, lat, zoom)), "lon double, lat double, zoom int")
    got = {}
    for z in (4, 9, "zoom"):
        cols = [vf.tile_x("lon", z).alias("x"), vf.tile_y("lat", z).alias("y")]
        for double in (False, True):
            cols += [F.expr(sq.tile_x_sql("lon", z, double=double)).alias(f"x{double}"),
                     F.expr(sq.tile_y_sql("lat", z, double=double)).alias(f"y{double}"),
                     F.expr(sq.tile_lon_sql("x", z, double=double)).alias(f"w{double}"),
                     F.expr(sq.tile_lat_sql("y", z, double=double)).alias(f"n{double}")]
        rows = df.select(*cols).collect()
        for r in rows:
            assert r.x == r.xFalse == r.xTrue and r.y == r.yFalse == r.yTrue
            assert r.wFalse == r.wTrue and r.nFalse == r.nTrue
        assert len(rows) == len(lon)
        got[z] = rows
    assert got["zoom"] == [got[zi][i] for i, zi in enumerate(zoom)]


def test_null_or_nan_coordinate_has_no_cell(spark):
    """A point whose ``lon`` or ``lat`` is null or NaN has no cell:
    ``encode_points`` drops it, so no aggregate counts it.  Clamped by
    ``LEAST``/``GREATEST``, which skip a null, a null latitude encoded to
    row 2^z-1 and a null longitude to column 0, and each was counted
    there."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs

    z = 6
    nan = float("nan")
    pts = [("ok", 10.0, 20.0), ("null_lat", 10.0, None), ("null_lon", None, 20.0),
           ("nan_lat", 10.0, nan), ("nan_lon", nan, 20.0), ("both", None, None)]
    df = spark.createDataFrame(pts, "url string, lon double, lat double")
    want = tuple(int(v) for v in tm.point_to_tile(10.0, 20.0, z))
    for with_quadkey in (True, False):
        enc = encode_points(df, z, with_quadkey=with_quadkey)
        assert [(r.url, r.x, r.y) for r in enc.collect()] == [("ok", *want)]
    cells = cell_aggregate(encode_points(df, z, with_quadkey=False), z,
                           compile_aggs([AggSpec(out="cnt", reducer="count")]))
    assert [(r.x, r.y, r.cnt) for r in cells.collect()] == [(*want, 1)]


def test_pole_latitudes_encode_like_tilemath(spark):
    """Latitude +-90 lands in row 0 / row 2^z-1, as ``tm.point_to_tile``
    puts it, through every Spark-side encoder: ``encode_points``
    (``vf.tile_y``), ``vt_tile_y`` and kNN's generated-SQL encode.  Unclamped,
    the north pole divides by zero (an error under ANSI mode) and the
    south pole takes ln(0)."""
    import numpy as np

    from vt_grid_spark.functions import sqltext as sq
    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.operators.knn import knn_bruteforce, knn_cells, unpersist_knn

    register_sql_functions(spark)
    z = 6
    pts = [("n", 10.0, 90.0), ("s", -20.0, -90.0), ("n2", 30.0, 89.99),
           ("s2", -40.0, -89.99), ("e", 0.5, 0.5)]
    df = spark.createDataFrame(pts, "url string, lon double, lat double")
    with np.errstate(divide="ignore"):
        want = {u: tuple(int(v) for v in tm.point_to_tile(lon, lat, z))
                for u, lon, lat in pts}
    assert want["n"][1] == 0 and want["s"][1] == (1 << z) - 1
    df.createOrReplaceTempView("_poles")
    for enc in (encode_points(df, z),
                spark.sql(f"SELECT url, vt_tile_x(lon, {z}) AS x, "
                          f"vt_tile_y(lat, {z}) AS y FROM _poles"),
                df.selectExpr("url", f"{sq.tile_x_sql('lon', z, double=True)} AS x",
                              f"{sq.tile_y_sql('lat', z, double=True)} AS y")):
        assert {r.url: (r.x, r.y) for r in enc.collect()} == want

    queries = df.selectExpr("url AS qid", "lon", "lat")
    out = knn_cells(df, queries, 2, z=z)
    got = sorted(tuple(r) for r in out.select("qid", "rank", "url", "d2").collect())
    unpersist_knn(out)
    assert got == sorted(tuple(r) for r in knn_bruteforce(df, queries, 2).collect())
    assert len(got) == 2 * len(pts)
