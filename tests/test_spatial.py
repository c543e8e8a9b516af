"""Spatial joins, kNN, raster<->vector."""

import json

import numpy as np
from pyspark.sql import functions as F

from vt_grid_spark.operators import raster
from vt_grid_spark.operators.knn import knn_bruteforce, knn_cells
from vt_grid_spark.operators.spatial_join import (
    point_in_polygon_join, points_in_polygon_numpy, polygon_cover_cells)
from vt_grid_spark.sources import pages

DIAMOND = {  # diamond around (-74.0, 40.7) — inside the corpus hot cluster
    "type": "Polygon",
    "coordinates": [[[-74.4, 40.7], [-74.0, 41.05], [-73.6, 40.7], [-74.0, 40.35],
                     [-74.4, 40.7]]],
}


def test_pip_numpy_even_odd():
    rings = DIAMOND["coordinates"]
    lon = np.array([-74.0, -74.0, -75.0, -73.61, -74.39])
    lat = np.array([40.7, 41.2, 40.7, 40.7, 40.7])
    got = points_in_polygon_numpy(lon, lat, rings)
    assert got.tolist() == [True, False, False, True, True]
    # hole subtracts
    hole = [[-74.1, 40.6], [-74.1, 40.8], [-73.9, 40.8], [-73.9, 40.6], [-74.1, 40.6]]
    got2 = points_in_polygon_numpy(np.array([-74.0]), np.array([40.7]),
                                   [rings[0], hole])
    assert got2.tolist() == [False]


def test_polygon_cover_marks_full_cells():
    cover = polygon_cover_cells(DIAMOND["coordinates"], 11)
    assert len(cover) > 8
    fulls = [c for c in cover if c[2]]
    partials = [c for c in cover if not c[2]]
    assert fulls and partials  # a z11 cell is ~0.18 deg: some wholly inside


def test_pip_join_matches_bruteforce(spark):
    pts = pages.with_coords(pages.pages_df(spark, 3000))
    polys = spark.createDataFrame(
        [(1, json.dumps(DIAMOND))], "poly_id long, geometry_json string")
    joined = point_in_polygon_join(pts, polys, z=9)
    got = {r.url for r in joined.collect()}

    rows = pts.select("url", "lon", "lat").collect()
    lon = np.array([r.lon for r in rows])
    lat = np.array([r.lat for r in rows])
    mask = points_in_polygon_numpy(lon, lat, DIAMOND["coordinates"])
    want = {r.url for r, m in zip(rows, mask) if m}
    assert got == want
    assert len(want) > 50  # hot cluster lives inside the diamond


def test_knn_cells_equals_bruteforce(spark):
    pts = pages.with_coords(pages.pages_df(spark, 3000))
    queries = spark.createDataFrame(
        [(1, -74.0, 40.7), (2, 10.0, 50.0), (3, 139.7, 35.6)],
        "qid long, lon double, lat double")
    brute = knn_bruteforce(pts, queries, 5)
    cells = knn_cells(pts, queries, 5, z=6, ring=1)
    b = sorted((r.qid, r.rank, r.url) for r in brute.collect())
    c = sorted((r.qid, r.rank, r.url) for r in cells.collect())
    assert b == c
    assert len(b) == 15


def _sparse_ring(spark, dense=()):
    """The adversarial sparse-ring case at z=6, k=3: query 1's ring-1
    holds k candidates, tucked into its far corner cell, but its true
    nearest neighbor sits just OUTSIDE the ring, so ring 1 cannot prove
    it and ring 3 does.  Each (x, y) tile in ``dense`` adds one more
    query at the tile's centre with k points right next to it, which
    ring 1 proves."""
    from vt_grid_spark import tilemath as tm

    z = 6
    k = 3

    def centre(x, y):
        w, s, e, n = (float(v) for v in tm.tile_to_bbox(x, y, z))
        return (w + e) / 2.0, (s + n) / 2.0

    qx, qy = 32, 25
    qlon, qlat = centre(qx, qy)
    # k points inside the ring, but tucked into the far corner cell
    cw, cs, ce, cn = (float(v) for v in tm.tile_to_bbox(qx + 1, qy + 1, z))
    pts_rows = [(f"in{i}", ce - 0.01 - 0.02 * i, cs + 0.01) for i in range(k)]
    # one point just past the ring's east boundary — CLOSER than the corner
    ow, _, _, _ = (float(v) for v in tm.tile_to_bbox(qx + 2, qy, z))
    pts_rows.append(("out0", ow + 0.01, qlat))
    q_rows = [(1, qlon, qlat)]
    for j, (x, y) in enumerate(dense, start=2):
        lon, lat = centre(x, y)
        q_rows.append((j, lon, lat))
        pts_rows += [(f"d{j}_{i}", lon + 0.01 * (i + 1), lat) for i in range(k)]
    pts = spark.createDataFrame(pts_rows, "url string, lon double, lat double")
    queries = spark.createDataFrame(q_rows, "qid long, lon double, lat double")
    return pts, queries


def test_knn_cells_escalates_on_safety_radius(spark):
    """Adversarial sparse-cell case: the ring holds >= k candidates, but the
    true nearest neighbor sits just OUTSIDE the ring — without the
    safety-radius check the ring answer would be silently wrong
    (VERDICT r1 'What's wrong' #1)."""
    pts, queries = _sparse_ring(spark)
    k = 3
    brute = sorted((r.qid, r.rank, r.url) for r in knn_bruteforce(pts, queries, k).collect())
    cells = sorted((r.qid, r.rank, r.url) for r in knn_cells(pts, queries, k, z=6, ring=1).collect())
    assert cells == brute
    # the fixture is genuinely adversarial: the out-of-ring point must win
    assert cells[0][2] == "out0"


def test_knn_cells_records_escalation(spark):
    """``stats`` records each level's decisions: its ring, query count,
    residue and join.  Three queries exceed broadcast_threshold=2, so ring
    1 joins by shuffle hash; its residue of one query is under the
    threshold, so ring 3 broadcasts, and proves it."""
    pts, queries = _sparse_ring(spark, dense=[(10, 20), (50, 40)])
    stats: dict = {}
    out = knn_cells(pts, queries, 3, z=6, ring=1, broadcast_threshold=2,
                    stats=stats)
    assert stats["levels"] == [
        {"ring": 1, "n_q": 3, "residue": 1, "join": "shuffle_hash"},
        {"ring": 3, "n_q": 1, "residue": 0, "join": "broadcast"},
    ]
    got = sorted((r.qid, r.rank, r.url) for r in out.collect())
    assert got == sorted((r.qid, r.rank, r.url)
                         for r in knn_bruteforce(pts, queries, 3).collect())


def test_knn_cells_job_audit(spark, jobs_started):
    """A knn_cells call that escalates once, plus its collect: the size
    probe, then one eager checkpoint per ring level, whose observed
    metrics give the level's query count and residue, then the collect
    of the checkpoints: 11 jobs.  With a lazily persisted level instead,
    each level counted its proven rows in jobs of its own, the top level
    counted the queries, and the next level anti-joined them: 18 jobs."""
    pts, queries = _sparse_ring(spark, dense=[(10, 20), (50, 40)])
    rows: list = []
    n_jobs = jobs_started(lambda: rows.extend(
        knn_cells(pts, queries, 3, z=6, ring=1, broadcast_threshold=2).collect()))
    assert len(rows) == 9
    assert n_jobs == 11, n_jobs


def test_knn_cells_ring_wider_than_world(spark):
    """When 2*ring+1 > n_tiles (reachable via the 1->3->7 re-ring
    recursion at small z), pmod x-wrapping must NOT emit the same cell
    from several dx offsets — a duplicated candidate would occupy several
    top-k ranks and corrupt the exact answer (ADVICE r4 #1)."""
    pts = pages.with_coords(pages.pages_df(spark, 200))
    queries = spark.createDataFrame(
        [(1, -74.0, 40.7), (2, 170.0, -35.0), (3, 1.0, 0.5)],
        "qid long, lon double, lat double")
    k = 4
    # z=2 -> n_tiles=4; ring=3 gives 2*ring+1=7 > 4 (the wrap regime)
    cells = knn_cells(pts, queries, k, z=2, ring=3, rering_steps=0)
    rows = cells.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r.url)
    for qid, urls in per_q.items():
        assert len(urls) == len(set(urls)), f"duplicate neighbor for {qid}"
    brute = sorted((r.qid, r.rank, r.url)
                   for r in knn_bruteforce(pts, queries, k).collect())
    got = sorted((r.qid, r.rank, r.url) for r in rows)
    assert got == brute
    # also drive the wrap through the recursion itself: start ring=1 at
    # z=2 with rering_steps=2 so escalation crosses the wrap threshold
    rec = knn_cells(pts, queries, k, z=2, ring=1, rering_steps=2)
    got_rec = sorted((r.qid, r.rank, r.url) for r in rec.collect())
    assert got_rec == brute


def test_knn_cells_distributed_queries(spark):
    """Query side is a DataFrame pipeline (no driver materialization):
    knn_cells must consume it without collect()."""
    pts = pages.with_coords(pages.pages_df(spark, 2000))
    queries = spark.range(20).select(
        F.col("id").alias("qid"),
        (F.col("id") * 17.0 - 170.0).alias("lon"),
        (F.col("id") * 7.0 - 70.0).alias("lat"),
    )
    brute = knn_bruteforce(pts, queries, 3)
    cells = knn_cells(pts, queries, 3, z=5, ring=1)
    b = sorted((r.qid, r.rank, r.url) for r in brute.collect())
    c = sorted((r.qid, r.rank, r.url) for r in cells.collect())
    assert b == c
    assert len(b) == 60


def test_polygon_cover_df_distributed(spark):
    """Executor-side cover construction (mapInPandas, no driver quadtree
    loop) matches the per-polygon kernel, including multi-part merge, at a
    polygon count where a driver loop would serialize (~10^3)."""
    from tests.test_physical_plans import plan_str
    from vt_grid_spark.operators.spatial_join import polygon_cover_df

    polys = []
    for i in range(1000):
        cx, cy = -170.0 + (i % 40) * 8.0, -60.0 + (i // 40) * 4.5
        ring = [[cx, cy], [cx + 1.5, cy], [cx + 1.5, cy + 1.2],
                [cx, cy + 1.2], [cx, cy]]
        polys.append((i, json.dumps({"type": "Polygon", "coordinates": [ring]})))
    pdf = spark.createDataFrame(polys, "poly_id long, geometry_json string")
    cover = polygon_cover_df(pdf, z=7)
    assert "Exchange" not in plan_str(cover)  # narrow: no shuffle
    got = {}
    for r in cover.collect():
        got.setdefault(r.poly_id, {})[(r.x, r.y)] = r.full
    assert len(got) == 1000
    for pid in (0, 499, 999):
        rings = json.loads(dict(polys)[pid])["coordinates"]
        want = {}
        for x, y, full in polygon_cover_cells(rings, 7):
            want[(x, y)] = want.get((x, y), False) or full
        assert got[pid] == want


def test_knn_cells_many_queries_shuffle_path(spark):
    """10^5 queries force the shuffle-join path (threshold exceeded); the
    operator stays exact — spot-checked against brute force, full row
    count verified. Points are a dense deterministic scatter so rings
    prove nearly everywhere (the production regime); escalation residue
    still exercises the re-ring path."""
    pts = spark.range(20_000).select(
        F.concat(F.lit("p"), F.col("id")).alias("url"),
        (F.pmod(F.col("id") * 29.33, F.lit(360.0)) - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 11.71, F.lit(150.0)) - 75.0).alias("lat"))
    queries = spark.range(100_000).select(
        F.col("id").alias("qid"),
        (F.pmod(F.col("id") * 37.77, F.lit(360.0)) - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 13.13, F.lit(140.0)) - 70.0).alias("lat"))
    stats: dict = {}
    out = knn_cells(pts, queries, 3, z=6, ring=1, broadcast_threshold=10_000,
                    stats=stats)
    assert out.count() == 300_000  # every query proves or escalates to k
    # each level's form follows from the count it is decided on: ring 1
    # from the probe (10^5 queries, at least one per cell of the 4^6),
    # ring 3 from ring 1's residue (under broadcast_threshold)
    assert stats["levels"] == [
        {"ring": 1, "n_q": 100_000, "residue": 2, "join": "query_cell"},
        {"ring": 3, "n_q": 2, "residue": 0, "join": "broadcast"},
    ]
    sample_ids = list(range(0, 100_000, 9973))
    sq = queries.where(F.col("qid").isin(sample_ids))
    b = sorted((r.qid, r.rank, r.url) for r in knn_bruteforce(pts, sq, 3).collect())
    c = sorted((r.qid, r.rank, r.url)
               for r in out.where(F.col("qid").isin(sample_ids)).collect())
    assert b == c


def test_knn_cells_probe_fits_int_at_high_zoom(spark):
    """At z >= 16 the zoom has more cells (4^z) than ``Dataset.limit``
    takes (an int), so the size probe caps its limit: no level there can
    take the query-cell form, and a tiny input runs as before."""
    pts, queries = _sparse_ring(spark)
    want = sorted(tuple(r) for r in knn_bruteforce(pts, queries, 3).collect())
    for threshold, join in ((100_000, "broadcast"), (0, "shuffle_hash")):
        stats: dict = {}
        out = knn_cells(pts, queries, 3, z=16, ring=1, rering_steps=1,
                        broadcast_threshold=threshold, stats=stats)
        assert sorted(tuple(r) for r in out.collect()) == want
        assert {lv["join"] for lv in stats["levels"]} == {join}


def test_knn_null_or_nan_coordinates(spark):
    """A point with a null or NaN coordinate is never a neighbour, and a
    query with one gets no row and does not escalate — in both operators.
    A null d2 sorts first in the top-k's struct sort, so such a point used
    to rank first in the brute pass (and in knn_cells' brute tail), and
    such a query never proved, escalated to the brute tail and got k rows
    with a NaN or null d2."""
    pts = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 1.0, 1.0), ("c", 2.0, 2.0), ("nul", 5.0, None),
         ("nan", float("nan"), 3.0)], "url string, lon double, lat double")
    queries = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, None, 0.5), (3, 0.5, float("nan")), (4, 40.0, 40.0)],
        "qid long, lon double, lat double")
    want = [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"),
            (4, 1, "c"), (4, 2, "b"), (4, 3, "a")]
    got = sorted((r.qid, r.rank, r.url)
                 for r in knn_bruteforce(pts, queries, 3).collect())
    assert got == want
    # query 4's ring holds no point, so it reaches the brute tail
    stats: dict = {}
    out = knn_cells(pts, queries, 3, z=6, ring=1, rering_steps=0, stats=stats)
    assert sorted((r.qid, r.rank, r.url) for r in out.collect()) == want
    assert stats["levels"] == [
        {"ring": 1, "n_q": 2, "residue": 1, "join": "broadcast"}]


def _blocks(spark, k=4, nblocks=8):
    side2 = (1 << k) ** 2
    return spark.range(nblocks).select(
        F.lit(8).alias("tile_z"),
        (F.col("id") % 4 + 100).alias("tile_x"),
        (F.col("id") / 4 + 80).cast("long").alias("tile_y"),
        F.transform(
            F.sequence(F.lit(0), F.lit(side2 - 1)),
            lambda p: ((F.col("id") * 31 + p * 7) % 100).cast("double"),
        ).alias("band"),
    )


def test_raster_to_cells_conserves_sum(spark):
    k = 4
    blocks = _blocks(spark, k)
    cells = raster.raster_to_cells(blocks, k=k, drop_zero=False)
    per_block = (
        cells.groupBy(F.shiftright("x", k).alias("tile_x"),
                      F.shiftright("y", k).alias("tile_y"))
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {(r.tile_x, r.tile_y): sum(r.band) for r in blocks.collect()}
    assert len(per_block) == 8
    for r in per_block:
        assert r.n == (1 << k) ** 2
        assert abs(r.s - want[(r.tile_x, r.tile_y)]) < 1e-9
    # cell zoom is tile_z + k
    assert cells.select("zoom").distinct().collect()[0].zoom == 12


def test_raster_roundtrip(spark):
    k = 4
    blocks = _blocks(spark, k)
    cells = raster.raster_to_cells(blocks, k=k, drop_zero=False)
    back = raster.cells_to_raster(cells, k=k)
    a = {(r.tile_x, r.tile_y): list(r.band) for r in blocks.collect()}
    b = {(r.tile_x, r.tile_y): list(r.band) for r in back.collect()}
    assert a == b


def test_pip_refine_geometry_ships_as_broadcast(spark):
    """The refine kernel must capture a Spark Broadcast handle, never the
    raw geometry dict (which would re-pickle into every task closure at
    10^5-polygon scale)."""
    import pytest
    from vt_grid_spark.operators import spatial_join as sj

    with pytest.raises(TypeError, match="broadcast"):
        sj._make_pip_udf({1: []})
    bc = spark.sparkContext.broadcast(
        {1: [[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]]]})
    assert sj._make_pip_udf(bc) is not None


def test_knn_cells_unpersist_releases_cache(spark):
    """unpersist_knn frees every block a knn_cells call pinned: the
    encoded point table and each level's checkpoint, whose frames read
    storageLevel NONE, so the check reads the context's persisted RDDs."""
    from vt_grid_spark.operators.knn import knn_cells, unpersist_knn
    from vt_grid_spark.sources import pages

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    pts = pages.with_coords(pages.pages_df(spark, 500))
    queries = spark.createDataFrame(
        [(1, -74.0, 40.7), (2, 10.1, 50.3)], "qid long, lon double, lat double")
    before = persisted()
    out = knn_cells(pts, queries, 5, z=5, ring=1)
    out.collect()
    pinned = persisted() - before
    assert len(pinned) == 1 + len(out._knn_checkpoints)
    unpersist_knn(out, blocking=True)
    assert not persisted() & pinned


def test_knn_cells_non_identifier_query_id(spark):
    """The generated-SQL rewrite must keep F.col's literal name
    resolution: a hyphenated query_id column (valid before the rewrite)
    must neither mis-parse as subtraction nor throw, and both strategies
    must agree on it."""
    pts = spark.range(200).selectExpr(
        "concat('p', id) AS url",
        "cast(id % 20 as double) * 1.7 - 17.0 AS lon",
        "cast(id % 10 as double) * 3.1 - 15.0 AS lat")
    qs = spark.range(3).selectExpr(
        "concat('q', id) AS `q-id`",
        "cast(id as double) * 2.0 - 2.0 AS lon",
        "cast(id as double) * 1.5 - 1.0 AS lat")
    cells = knn_cells(pts, qs, 3, z=4, ring=1, query_id="q-id") \
        .orderBy("q-id", "rank").collect()
    brute = knn_bruteforce(pts, qs, 3, query_id="q-id") \
        .orderBy("q-id", "rank").collect()
    assert len(cells) == 9
    assert cells == brute
