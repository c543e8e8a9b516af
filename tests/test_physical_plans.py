"""Physical-plan quality gates: these lock in the properties that make the
engine scale — filter/column pushdown to the parquet scan, one exchange
per rollup level, broadcast joins for dimension sides, top-k without a
global sort.  If a refactor regresses a plan shape, these fail."""

from pyspark.sql import functions as F


def plan_str(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_parquet_pushdown(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.where(F.col("l_orderkey") < 100).select("l_orderkey", "l_quantity")
    p = plan_str(q)
    assert "PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]" in p
    # column pruning: only the two projected columns reach the scan
    assert "l_extendedprice" not in p.split("ReadSchema")[1].splitlines()[0]


def test_rollup_single_exchange(spark):
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_ancestors
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs
    from vt_grid_spark.sources import pages

    specs = [AggSpec(out="cnt", reducer="count")]
    pts = pages.with_coords(pages.pages_df(spark, 100))
    cells = cell_aggregate(encode_points(pts, 8, with_quadkey=False), 8,
                           compile_aggs(specs))
    lvl = rollup_ancestors(cells, 8, 7, specs)
    p = plan_str(lvl, "simple")
    # one exchange for the base cell agg + one for the parent rollup — and
    # nothing else (no sort, no extra repartition, no explode at depth 1)
    assert p.count("Exchange") == 2
    assert "Sort" not in p
    assert "Generate" not in p
    # map-side combine present on both aggregations
    assert "partial_count" in p and "partial_sum" in p


def test_build_pyramid_df_one_aggregation_per_band(spark):
    """The in-memory pyramid is the base aggregate plus one
    ``rollup_ancestors`` per band: a 1-band, 5-level holistic plan has at
    most 3 hash exchanges (a chain of lazily unioned levels re-derives
    every level from the base: 25)."""
    from vt_grid_spark.operators.pyramid import build_pyramid_df
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.sources import pages

    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="langs", reducer="union", field="lang")]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=10, minzoom=5, aggregations=specs)],
                       gridsize=1)
    df = build_pyramid_df(pages.with_coords(pages.pages_df(spark, 100)), plan)
    p = plan_str(df, "simple")
    assert p.count("Exchange hashpartitioning") <= 3, p
    assert sorted(r.zoom for r in df.select("zoom").distinct().collect()) \
        == list(range(5, 10))


def test_encode_is_narrow(spark):
    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.sources import pages

    enc = encode_points(pages.with_coords(pages.pages_df(spark, 100)), 12)
    p = plan_str(enc)
    assert "Exchange" not in p  # pure column math, zero shuffles
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p  # no Python


def test_pip_join_broadcasts_cover(spark):
    import json

    from vt_grid_spark.operators.spatial_join import point_in_polygon_join
    from vt_grid_spark.sources import pages

    poly = {"type": "Polygon",
            "coordinates": [[[-75, 40], [-75, 41], [-73, 41], [-73, 40], [-75, 40]]]}
    polys = spark.createDataFrame([(1, json.dumps(poly))],
                                  "poly_id long, geometry_json string")
    pts = pages.with_coords(pages.pages_df(spark, 100))
    out = point_in_polygon_join(pts, polys, z=8)
    p = plan_str(out, "simple")
    assert "BroadcastHashJoin" in p
    assert p.count("ArrowEvalPython") == 1  # exactly one vectorized refine
    # single-pass candidates: the r2 full/boundary split unioned two
    # branches, evaluating the scan+encode+join subtree twice
    assert "Union" not in p


def test_knn_cells_shuffle_join_above_threshold(spark, tmp_path):
    """Above broadcast_threshold the (query, ring-cell) candidate relation
    must reach the point table by SHUFFLE, not broadcast — an unbounded
    query side would otherwise die on the driver (r2 ADVICE).  A level is
    materialized by a checkpoint, so the result's plan only scans it: the
    gate is read from the recorded decision, and each decision's join from
    the plan of the level it builds.

    With at least one query per cell (n_q >= 4^z) a level takes the
    query-cell form: the points go to the queries' cells, and the per-query
    aggregate reuses the join's partitioning.  Its plan has two hash
    exchanges (the cell form has three: both join sides and the candidate
    regroup), no union, one scan of the query source, and no filter
    inferred from the safety radius on the query side."""
    import re

    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.operators.knn import _ring_level, knn_cells, unpersist_knn
    from vt_grid_spark.sources import pages

    pts = pages.with_coords(pages.pages_df(spark, 500))
    queries = spark.range(50).select(
        F.col("id").alias("qid"),
        (F.col("id") * 7.0 - 170.0).alias("lon"),
        (F.col("id") * 2.0 - 50.0).alias("lat"))
    for threshold, join in ((10, "shuffle_hash"), (1000, "broadcast")):
        stats: dict = {}
        out = knn_cells(pts, queries, 3, z=5, ring=1, stats=stats,
                        broadcast_threshold=threshold, rering_steps=0)
        assert [lv["join"] for lv in stats["levels"]] == [join]
        unpersist_knn(out, blocking=True)

    enc_p = encode_points(pts, 5, with_quadkey=False).select("url", "lon", "lat", "x", "y")
    q = encode_points(queries, 5, with_quadkey=False).selectExpr(
        "qid", "lon AS _qlon", "lat AS _qlat", "x AS _qx", "y AS _qy")
    big = plan_str(_ring_level(enc_p, q, 3, 5, 1, "url", "qid", "shuffle_hash"),
                   "simple")
    assert "ShuffledHashJoin" in big and "BroadcastHashJoin" not in big
    # below the gate the candidate join stays broadcast (no fact shuffle)
    small = plan_str(_ring_level(enc_p, q, 3, 5, 1, "url", "qid", "broadcast"),
                     "simple")
    assert "BroadcastHashJoin" in small and "ShuffledHashJoin" not in small

    # 2,000 parquet queries at z=5 (1,024 cells): the query-cell form
    path = str(tmp_path / "queries.parquet")
    spark.range(2000).select(
        F.col("id").alias("qid"),
        (F.col("id") * 0.17 - 170.0).alias("lon"),
        (F.col("id") * 0.05 - 50.0).alias("lat")).write.parquet(path)
    many = spark.read.parquet(path)
    stats = {}
    out = knn_cells(pts, many, 3, z=5, ring=1, stats=stats,
                    broadcast_threshold=10, rering_steps=0)
    assert [lv["join"] for lv in stats["levels"]] == ["query_cell"]
    unpersist_knn(out, blocking=True)
    qc = encode_points(many, 5, with_quadkey=False).selectExpr(
        "qid", "lon AS _qlon", "lat AS _qlat", "x AS _qx", "y AS _qy")
    by_cell = plan_str(_ring_level(enc_p, qc, 3, 5, 1, "url", "qid", "query_cell"),
                       "simple")
    assert by_cell.count("Exchange hashpartitioning") == 2, by_cell
    assert "Union" not in by_cell
    assert by_cell.count("FileScan parquet") == 1
    assert not re.search(r"isnotnull\(+least\(", by_cell)


def test_bbox_cover_pushdown(spark, tmp_path):
    """The bbox cover's raw lon/lat prefilter must reach the parquet scan
    (PushedFilters) — at 100 TB this is the difference between reading the
    window and reading the world."""
    from vt_grid_spark.operators.pyramid import build_pyramid_df
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.sources import pages

    path = str(tmp_path / "pts.parquet")
    pages.with_coords(pages.pages_df(spark, 2000)).select(
        "url", "lon", "lat").write.parquet(path)
    raw = spark.read.parquet(path)
    plan = PyramidPlan(
        bands=[ZoomBand(basezoom=10, minzoom=8,
                        aggregations=[AggSpec(out="cnt", reducer="count")])],
        gridsize=1, bbox=(-10.0, 35.0, 25.0, 58.0))
    p = plan_str(build_pyramid_df(raw, plan))
    assert "GreaterThanOrEqual(lon" in p and "LessThanOrEqual(lon" in p
    assert "GreaterThanOrEqual(lat" in p and "LessThanOrEqual(lat" in p


def test_bbox_and_tiles_cover_semantics(spark):
    """Cover filter == manual cell-range restriction of the full build."""
    from vt_grid_spark.operators.encode import (cover_cell_predicate,
                                                cover_ranges, encode_points)
    from vt_grid_spark.sources import pages

    pts = pages.with_coords(pages.pages_df(spark, 2000))
    enc = encode_points(pts, 9, with_quadkey=False)
    ranges = cover_ranges(9, bbox=(-10.0, 35.0, 25.0, 58.0),
                          tiles=[(4, 3, 6)])
    got = enc.where(cover_cell_predicate(ranges)).groupBy("x", "y").count()
    want = {}
    for r in enc.groupBy("x", "y").count().collect():
        if any(x0 <= r.x <= x1 and y0 <= r.y <= y1 for x0, x1, y0, y1 in ranges):
            want[(r.x, r.y)] = r["count"]
    assert {(r.x, r.y): r["count"] for r in got.collect()} == want
    assert len(want) > 10


def test_minhash_refine_no_broadcast(spark):
    """Corpus-sized tables (signatures, shingle sets) must reach the refine
    joins by SHUFFLE, never broadcast — a broadcast of a per-document table
    dies on the driver at 10^12 docs (r1 VERDICT 'What's wrong' #2)."""
    from vt_grid_spark.operators.dedup import minhash_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = minhash_dup_pairs(docs, threshold=0.7)
    p = plan_str(out, "simple")
    assert "BroadcastExchange" not in p and "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" in p  # the hinted id-key joins


def test_simhash_pairs_no_broadcast(spark):
    from vt_grid_spark.operators.dedup import simhash_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_str(simhash_dup_pairs(docs, r=3), "simple")
    assert "BroadcastExchange" not in p and "BroadcastHashJoin" not in p


def test_topk_uses_take_ordered(spark):
    from vt_grid_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [0.1] * 64
    top = cosine_topk(emb, qv, 10)
    p = plan_str(top)
    # the limit must push into TakeOrderedAndProject — no global sort of
    # the full similarity column
    assert "TakeOrderedAndProject" in p


def test_raster_to_cells_no_python(spark):
    from vt_grid_spark.operators.raster import raster_to_cells

    blocks = spark.range(2).select(
        F.lit(8).alias("tile_z"), F.col("id").alias("tile_x"),
        F.col("id").alias("tile_y"),
        F.transform(F.sequence(F.lit(0), F.lit(255)),
                    lambda p: p.cast("double")).alias("band"))
    cells = raster_to_cells(blocks, k=4)
    p = plan_str(cells)
    assert "Exchange" not in p and "EvalPython" not in p


def test_hex_bin_stays_jvm_side(spark):
    """The hex cell/parent encode is pure Column arithmetic: the whole
    bin-aggregate plan must contain NO Python evaluation (children() is
    the one sanctioned pandas-UDF surface) and exactly one exchange with
    a map-side partial."""
    from vt_grid_spark.cellindex import HexIndex
    from vt_grid_spark.sources import pages

    ix = HexIndex(0.75, aperture=3)
    pts = pages.with_coords(pages.pages_df(spark, 100))
    enc = (pts.withColumn("cell", ix.cell("lon", "lat"))
           .withColumn("pcell", ix.parent(F.col("cell"))))
    agg = enc.groupBy("cell", "pcell").agg(F.count("*").alias("cnt"))
    p = plan_str(agg, "simple")
    assert "EvalPython" not in p  # no BatchEvalPython / ArrowEvalPython
    assert p.count("Exchange") == 1
    assert "partial_count" in p


def test_dedup_clusters_round_no_broadcast(spark):
    """One round of the hash-min reference that the star components are
    checked against: the corpus-sized labels table reaches the edge join
    by SHUFFLE, never broadcast (labels are per-node at 10^12-doc scale)."""
    from hashmin_reference import hashmin_round
    from pyspark.sql import functions as F

    edges = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = edges.select(F.col("src").alias("id")).distinct() \
        .withColumn("label", F.col("id"))
    p = plan_str(hashmin_round(edges, labels), "simple")
    assert "BroadcastExchange" not in p and "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p


def test_ngram_prefix_join_no_broadcast(spark):
    from vt_grid_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = ngram_jaccard_pairs(docs, threshold=0.7, prefix_filter=True)
    p = plan_str(out, "simple")
    assert "BroadcastExchange" not in p and "BroadcastHashJoin" not in p


def test_decontaminate_join_no_broadcast(spark):
    """The shingle posting join must shuffle: the eval suite is the small
    side but not provably driver-small (10^5 docs x 10^2 shingles), and
    the train side never is."""
    from pyspark.sql import functions as F

    from vt_grid_spark.operators.dedup import decontaminate_overlap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.select(F.col("doc_id").alias("train_id"), "text")
    evals = docs.where(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("eval_id"), "text")
    p = plan_str(decontaminate_overlap(train, evals, k=20, min_shared=2,
                                       max_train_df=100), "simple")
    assert "BroadcastExchange" not in p and "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p


def test_cell_encode_query_integer_key_shuffle(spark):
    """r6 (VERDICT r5 #3): the cell_encode_z12 QUERY must group on the
    integer (x, y) only — the exchange partitioning may not carry the
    quadkey string (the r5 form shuffled a 12-char string per row at base
    zoom); quadkey is re-derived on the aggregate."""
    import re

    import __spark_entry__ as e

    df = e.queries()["cell_encode_z12"](spark, "/root/testdata/sf0.001")
    p = plan_str(df, "simple")
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert parts, p
    for keys in parts:
        assert "quadkey" not in keys, keys
    # quadkey still in the OUTPUT (derived after the aggregation — the
    # simple-mode plan folds the derivation into the final HashAggregate's
    # result expressions, so assert on the schema)
    assert "quadkey" in df.columns


def test_mvt_tile_encode_parallelism_pinned(spark):
    """r6: the per-tile protobuf encode must run on an explicit
    cores-proportional repartition (AQE would otherwise coalesce the
    few-MB packed cell structs to ~1 partition and the compute-bound
    Python encode would run single-task)."""
    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.sources import mvt
    from vt_grid_spark.sources import pages

    pts = pages.with_coords(pages.pages_df(spark, 2_000))
    cells = (encode_points(pts, 8, with_quadkey=False)
             .groupBy("x", "y").agg(F.count(F.lit(1)).alias("cnt")))
    tiles = mvt.cells_to_mvt_tiles(cells, cell_z=8, k=2, props=["cnt"])
    p = plan_str(tiles, "simple")
    # the explicit repartition survives as its own exchange with a
    # user-repartition origin (REPARTITION_BY_NUM — exempt from AQE
    # coalescing), between the groupBy and the Python encode
    assert "REPARTITION_BY_NUM" in p or "REPARTITION_BY_COL" in p, p
    assert tiles.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_zorder_clustered_write_plan_gate(spark, tmp_path):
    """VERDICT r5 #4: the clustered level write must plan exactly ONE
    RangePartitioning exchange keyed on the morton column, with the
    explicit partition count pinned (REPARTITION_BY_NUM — exempt from
    AQE coalescing), and that count must survive to the files on disk
    even for a tiny level (the documented coalesce gotcha)."""
    import re

    from vt_grid_spark.sources.table_io import TableIO, zorder_clustered

    cells = spark.range(2_000).selectExpr(
        "id % 64 AS x", "(id * 7) % 64 AS y", "id AS v")
    p = plan_str(zorder_clustered(cells, 8), "simple")
    ranges = re.findall(r"Exchange rangepartitioning\(([^)]*)\)", p)
    assert len(ranges) == 1, p
    keys, n_parts = ranges[0].rsplit(",", 1)
    assert "_mz" in keys and int(n_parts) == 8, ranges
    assert "REPARTITION_BY_NUM" in p, p
    # end-to-end: the pinned count reaches the parquet layout
    io = TableIO(str(tmp_path))
    m = io.write_level(cells, 6, cluster=True, cluster_partitions=8)
    assert m["clustered"] is True
    assert len(m["files"]) == 8, m["files"]
