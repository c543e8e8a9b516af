"""Z-order clustered level layout (functions.morton +
TableIO.write_level(cluster=True)): correctness of the Morton code and a
QUANTITATIVE footprint check — clustered files must carry narrow x AND y
column stats, which is what lets a bbox scan prune row groups."""

import numpy as np
from pyspark.sql import functions as F

from vt_grid_spark import functions as vf
from vt_grid_spark.sources import pages
from vt_grid_spark.sources.table_io import TableIO


def _morton_np(x, y):
    out = np.zeros(len(x), dtype=np.uint64)
    for i in range(32):
        out |= ((x.astype(np.uint64) >> i) & 1) << (2 * i)
        out |= ((y.astype(np.uint64) >> i) & 1) << (2 * i + 1)
    return out.astype(np.int64)


def test_morton_matches_numpy_twin(spark):
    n = 1 << 12
    df = spark.range(4000).select(
        (F.xxhash64("id") % n).alias("x"),
        (F.xxhash64(F.col("id") + 1) % n).alias("y"))
    df = df.select(F.abs("x").alias("x"), F.abs("y").alias("y"))
    rows = df.withColumn("m", vf.morton(F.col("x"), F.col("y"))).collect()
    x = np.array([r.x for r in rows])
    y = np.array([r.y for r in rows])
    m = np.array([r.m for r in rows])
    assert np.array_equal(m, _morton_np(x, y))
    # order-isomorphism sanity at a high zoom: x,y < 2^28 stays exact
    big = spark.createDataFrame(
        [( (1 << 28) - 1, (1 << 28) - 3 )], "x long, y long")
    got = big.select(vf.morton(F.col("x"), F.col("y")).alias("m")).collect()[0].m
    assert got == int(_morton_np(np.array([(1 << 28) - 1]),
                                 np.array([(1 << 28) - 3]))[0])


def test_clustered_level_files_have_compact_footprints(spark, tmp_path):
    """Write the same z10 level clustered and unclustered; per-file
    bbox area (from parquet column stats) must shrink by >= 4x on
    average, and a bbox-filtered read must return identical rows."""
    import pyarrow.parquet as pq
    import os

    pts = pages.with_coords(pages.pages_df(spark, 20_000))
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    cells = cell_aggregate(
        encode_points(pts, 10, with_quadkey=False), 10,
        [F.count(F.lit(1)).alias("cnt")]).repartition(8)

    io_u = TableIO(str(tmp_path / "plain"))
    io_c = TableIO(str(tmp_path / "zorder"))
    io_u.write_level(cells, 10)
    m = io_c.write_level(cells, 10, cluster=True, cluster_partitions=32)
    assert m["clustered"] is True
    assert io_u.read_manifest(10)["clustered"] is False

    def footprints(io):
        spans = []
        path = io.level_path(10)  # the published generation's files
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, name))
            lo_x = lo_y = None
            hi_x = hi_y = None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                cols = {g.column(i).path_in_schema: g.column(i).statistics
                        for i in range(g.num_columns)}
                sx, sy = cols["x"], cols["y"]
                lo_x = sx.min if lo_x is None else min(lo_x, sx.min)
                hi_x = sx.max if hi_x is None else max(hi_x, sx.max)
                lo_y = sy.min if lo_y is None else min(lo_y, sy.min)
                hi_y = sy.max if hi_y is None else max(hi_y, sy.max)
            if lo_x is not None:
                spans.append((hi_x - lo_x + 1) * (hi_y - lo_y + 1))
        return spans

    plain = footprints(io_u)
    zord = footprints(io_c)
    assert plain and zord
    # unclustered files each cover ~the whole occupied grid; z-ordered
    # files cover compact tiles of it
    assert np.mean(zord) * 4 <= np.mean(plain), (np.mean(zord), np.mean(plain))

    # bbox read parity on the clustered layout
    a = {(r.x, r.y, r.cnt) for r in io_c.read_level(spark, 10)
         .where((F.col("x").between(300, 400))
                & (F.col("y").between(300, 400))).collect()}
    b = {(r.x, r.y, r.cnt) for r in io_u.read_level(spark, 10)
         .where((F.col("x").between(300, 400))
                & (F.col("y").between(300, 400))).collect()}
    assert a == b

    # OPTIMIZE ZORDER post-pass: cluster_level rewrites the plain level
    # as a new generation — identical content, clustered manifest,
    # lineage marked
    before = {(r.x, r.y, r.cnt) for r in io_u.read_level(spark, 10).collect()}
    m2 = io_u.cluster_level(spark, 10, partitions=32)
    assert m2["clustered"] is True and "+zorder" in m2["lineage"]["op"]
    after = {(r.x, r.y, r.cnt) for r in io_u.read_level(spark, 10).collect()}
    assert after == before
    assert np.mean(footprints(io_u)) * 4 <= np.mean(plain)
