"""Pyramid rollup: the reference's parent == Σ(children) invariant
(/root/reference/test/lib/aggregate-cells.js:28-56) at every level, plus
checkpoint/resume behavior."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from vt_grid_spark.operators.pyramid import build_pyramid, build_pyramid_df
from vt_grid_spark.plans.aggspec import AggSpec, finalize_columns
from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
from vt_grid_spark.sources import pages
from vt_grid_spark.sources.table_io import TableIO

SPECS = [
    AggSpec(out="cnt", reducer="count"),
    AggSpec(out="sum_v", reducer="sum", field="v"),
    AggSpec(out="mean_v", reducer="mean", field="v"),
    AggSpec(out="min_v", reducer="min", field="v"),
    AggSpec(out="max_v", reducer="max", field="v"),
    AggSpec(out="langs", reducer="union", field="lang"),
]


def _points(spark, n=4000):
    df = pages.with_coords(pages.pages_df(spark, n))
    return df.withColumn("v", (F.length("url") % 17).cast("double"))


def test_parent_equals_sum_of_children(spark):
    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=4, aggregations=SPECS)],
                       gridsize=16, salt_buckets=4)
    levels = build_pyramid_df(_points(spark), plan).cache()
    zooms = sorted({r.zoom for r in levels.select("zoom").distinct().collect()})
    assert zooms == list(range(6, 11))  # cell zooms: base 8+2=10 down to 4+2=6

    for child_z in zooms[1:]:
        kids = (
            levels.where(F.col("zoom") == child_z)
            .groupBy(F.shiftright("x", 1).alias("x"), F.shiftright("y", 1).alias("y"))
            .agg(F.sum("cnt").alias("k_cnt"), F.sum("sum_v").alias("k_sum"),
                 F.min("min_v").alias("k_min"), F.max("max_v").alias("k_max"))
        )
        parents = levels.where(F.col("zoom") == child_z - 1)
        joined = parents.join(kids, ["x", "y"], "full").collect()
        for r in joined:
            assert r.cnt == r.k_cnt, r
            assert abs(r.sum_v - r.k_sum) < 1e-6
            assert r.min_v == r.k_min and r.max_v == r.k_max
    levels.unpersist()


def test_quadkey_prefix_parenthood(spark):
    """Levels store no quadkey; the quadkey ``vf.quadkey`` derives from a
    level's (x, y) keeps the parent == child-prefix relation."""
    from vt_grid_spark import functions as vf

    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=7, aggregations=SPECS[:2])],
                       gridsize=16)
    levels = build_pyramid_df(_points(spark, 1500), plan).cache()
    assert "quadkey" not in levels.columns

    def keys(z):
        qk = vf.quadkey(F.col("x"), F.col("y"), z).alias("qk")
        return {(r.x, r.y): r.qk
                for r in levels.where(F.col("zoom") == z).select("x", "y", qk).collect()}

    child, parent = keys(10), keys(9)
    assert child and parent
    for (x, y), qk in child.items():
        assert len(qk) == 10
        assert parent[(x >> 1, y >> 1)] == qk[:-1]
    levels.unpersist()


def test_union_and_mean_semantics(spark):
    plan = PyramidPlan(bands=[ZoomBand(basezoom=6, minzoom=3, aggregations=SPECS)],
                       gridsize=4, salt_buckets=4)
    levels = build_pyramid_df(_points(spark, 3000), plan)
    top = levels.where(F.col("zoom") == 4)
    fin = finalize_columns(SPECS)
    top = top.withColumn("mean_v", fin["mean_v"]).collect()
    for r in top:
        assert r.langs == sorted(set(r.langs))  # sorted, distinct (g4)
        assert r.min_v <= r.mean_v <= r.max_v


def _crash_writes(monkeypatch, before=(), after=()):
    """Fault injection: wrap TableIO's two level writers.  The n-th write
    to start raises before writing if n is in ``before`` (once an earlier
    write has finished, so at least one level is written), and the n-th
    write to finish raises after writing if n is in ``after``.  Returns
    the records of the finished writes, by zoom."""
    lock, finished = threading.Lock(), threading.Event()
    count = {"start": 0, "done": 0}
    records = {}

    def wrap(write):
        def crashing(self, data, zoom, *args, **kwargs):
            with lock:
                count["start"] += 1
                n = count["start"]
            if n in before:
                if n > 1:
                    finished.wait(600)
                raise RuntimeError("injected crash")
            try:
                records[zoom] = write(self, data, zoom, *args, **kwargs)
            finally:
                finished.set()
            with lock:
                count["done"] += 1
                n = count["done"]
            if n in after:
                raise RuntimeError("injected crash")
            return records[zoom]
        return crashing

    for name in ("write_level", "write_level_pandas"):
        monkeypatch.setattr(TableIO, name, wrap(getattr(TableIO, name)))
    return records


def _level_rows(io, spark, zooms):
    """Every level of ``io`` as a set of row tuples."""
    cols = [c for c in io.read_level(spark, zooms[0]).columns if c != "zoom"]
    return {z: _rows(io.read_level(spark, z), cols) for z in zooms}


def test_checkpoint_resume(spark, tmp_path, monkeypatch):
    io = TableIO(str(tmp_path / "pyr"))
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS[:2])],
                       gridsize=16)
    pts = _points(spark, 1500)

    # a kill after the base level: the second level write crashes, so the
    # base level is staged and nothing is published
    staged = _crash_writes(monkeypatch, before={2})
    with pytest.raises(RuntimeError, match="injected crash"):
        build_pyramid(pts, plan, io)
    monkeypatch.undo()
    assert sorted(staged) == [9]
    assert not any(io.level_complete(z) for z in (7, 8, 9))

    m1 = build_pyramid(pts, plan, io)  # resume
    assert sorted(m1) == [7, 8, 9]  # cell zooms for output 7,6,5 at gridsize 16
    for z, man in m1.items():
        assert man["status"] == "complete"
        assert man["row_count"] > 0
        assert man["files"]  # per-partition row counts (north_rule lineage)
    assert set(m1[8]) == set(m1[9])  # driver-side and Spark writes: same keys
    assert m1[9]["completed_at"] == staged[9]["completed_at"]  # base level kept

    # every level published: a second resume re-runs nothing
    m2 = build_pyramid(pts, plan, io)
    assert {z: m["completed_at"] for z, m in m2.items()} == \
           {z: m["completed_at"] for z, m in m1.items()}

    # written levels agree with the in-memory path
    mem = build_pyramid_df(pts, plan)
    for z in (9, 8, 7):
        disk = io.read_level(spark, z)
        a = {(r.x, r.y, r.cnt, r.sum_v) for r in disk.collect()}
        b = {(r.x, r.y, r.cnt, r.sum_v)
             for r in mem.where(F.col("zoom") == z).collect()}
        assert a == b


@pytest.mark.parametrize("crash", [{"before": {2}}, {"after": {3}},
                                   {"before": {2}, "small_level_rows": 0}],
                         ids=["second_write", "before_publish", "between_spark_levels"])
def test_build_crash_keeps_published_pyramid(spark, tmp_path, monkeypatch, request,
                                             crash):
    """Fault injection: ``build_pyramid(resume=False)`` of new points over
    a complete pyramid crashes at its second level write, or after its
    last one (just before the publish).  Every level still reads as
    before the call; a resumed build then equals a one-shot build, and
    only the published generations stay on disk.  With
    ``SMALL_LEVEL_ROWS`` at 0 every level is a Spark level, so the crash
    and the resume fall between two of them."""
    from vt_grid_spark.operators import pyramid as pyr

    crash = dict(crash)
    levels_patch = pytest.MonkeyPatch()  # outlives the crash patch's undo
    request.addfinalizer(levels_patch.undo)
    levels_patch.setattr(pyr, "SMALL_LEVEL_ROWS",
                         crash.pop("small_level_rows", pyr.SMALL_LEVEL_ROWS))
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS)],
                       gridsize=16)
    zooms = [9, 8, 7]
    io = TableIO(str(tmp_path / "pyr"))
    build_pyramid(_points(spark, 1500), plan, io, resume=False)
    before = _level_rows(io, spark, zooms)
    new = _points(spark, 2500)

    _crash_writes(monkeypatch, **crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_pyramid(new, plan, io, resume=False)
    monkeypatch.undo()
    assert _level_rows(io, spark, zooms) == before

    man = build_pyramid(new, plan, io, resume=True)
    one_shot = TableIO(str(tmp_path / "one_shot"))
    build_pyramid(new, plan, one_shot, resume=False)
    assert _level_rows(io, spark, zooms) == _level_rows(one_shot, spark, zooms)
    for z in zooms:
        assert os.listdir(os.path.join(io.root, f"zoom={z}")) == [man[z]["gen"]]


@pytest.mark.parametrize("crash", [{"before": {2, 3}}, {"after": {3}}],
                         ids=["after_one_merge", "before_publish"])
def test_incremental_crash_keeps_published_pyramid(spark, tmp_path, monkeypatch,
                                                   crash):
    """Fault injection: ``incremental_update`` on a 3-level plan crashes
    once one level's merge has finished, or after every merge (just
    before the publish).  Every level still reads as before the call; a
    re-run then equals a one-shot build over both batches, and
    re-applying its delta id is a no-op."""
    from vt_grid_spark.operators.pyramid import incremental_update

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS)],
                       gridsize=16)
    zooms = [9, 8, 7]
    pts = _points(spark, 3000).cache()
    a = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) != 0)
    b = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    root = str(tmp_path / "pyr")
    io = TableIO(root)
    build_pyramid(a, plan, io, resume=False)
    before = _level_rows(io, spark, zooms)

    _crash_writes(monkeypatch, **crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_update(b, plan, io)
    monkeypatch.undo()
    assert _level_rows(io, spark, zooms) == before

    man = incremental_update(b, plan, TableIO(root, delta_id=1))
    one_shot = TableIO(str(tmp_path / "one_shot"))
    build_pyramid(pts, plan, one_shot, resume=False)
    want = _level_rows(one_shot, spark, zooms)
    assert _level_rows(io, spark, zooms) == want

    assert incremental_update(b, plan, TableIO(root, delta_id=1)) == man
    assert _level_rows(io, spark, zooms) == want
    pts.unpersist()


def test_cluster_level_crash_keeps_published_level(spark, tmp_path, monkeypatch):
    """Fault injection: ``cluster_level`` crashes after its write, before
    the publish.  Rows and record of the level are unchanged; a re-run
    clusters it with the same rows."""
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=6, aggregations=SPECS[:2])],
                       gridsize=16)
    io = TableIO(str(tmp_path / "pyr"))
    build_pyramid(_points(spark, 1500), plan, io, resume=False)
    rows = _level_rows(io, spark, [9, 8])
    records = {z: io.read_manifest(z) for z in (9, 8)}

    _crash_writes(monkeypatch, after={1})
    with pytest.raises(RuntimeError, match="injected crash"):
        io.cluster_level(spark, 9, partitions=4)
    monkeypatch.undo()
    assert {z: io.read_manifest(z) for z in (9, 8)} == records
    assert _level_rows(io, spark, [9, 8]) == rows

    m = io.cluster_level(spark, 9, partitions=4)
    assert m["clustered"] is True and "+zorder" in m["lineage"]["op"]
    assert io.read_manifest(8) == records[8]
    assert _level_rows(io, spark, [9, 8]) == rows


@pytest.mark.parametrize("backend", ["parquet", "catalog"])
def test_cluster_level_keeps_max_cell_rows(spark, tmp_path, backend):
    """``cluster_level`` rewrites every row of a level, so its record keeps
    ``max_cell_rows``: a record without it makes a resumed build salt the
    next holistic rollup whether or not the level is hot."""
    from vt_grid_spark.sources.table_io import CatalogTableIO

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=7,
                                       aggregations=[SPECS[0], SPECS[5]])],
                       gridsize=16)
    io = (TableIO(str(tmp_path / "pyr")) if backend == "parquet"
          else CatalogTableIO(spark, namespace="vtg_cluster", prefix="p1"))
    try:
        built = build_pyramid(_points(spark, 1500), plan, io)
        z = max(built)
        assert built[z]["max_cell_rows"] > 0
        m = io.cluster_level(spark, z, partitions=4)
        assert m["clustered"] is True
        assert m["max_cell_rows"] == io.read_manifest(z)["max_cell_rows"] \
            == built[z]["max_cell_rows"]
    finally:
        if backend == "catalog":
            spark.sql("DROP NAMESPACE IF EXISTS vtg_cluster CASCADE")


def test_concurrent_stages_are_all_published(tmp_path):
    """TableIO's stage is thread-safe: 64 level writes from 16 threads
    that share one draft, with a short thread switch interval, all reach
    the one publish."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    io = TableIO(str(tmp_path / "pyr"))
    table = pa.table({"x": [1, 2], "y": [3, 4], "cnt": [5, 6]})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with io.commit(), ThreadPoolExecutor(max_workers=16) as pool:
            done = list(pool.map(lambda z: io.write_level_pandas(table, z), range(64),
                                 timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert len(done) == 64
    published = TableIO(io.root)
    assert all(published.read_manifest(z)["gen"] == done[z]["gen"] for z in range(64))


@pytest.mark.parametrize("root", ["s3a://bucket/pyr", "hdfs://nn:8020/pyr",
                                  "file:/tmp/pyr"])
def test_tableio_rejects_uri_root(tmp_path, monkeypatch, root):
    """TableIO commits with ``os`` under a local directory; a URI root is
    refused instead of splitting a pyramid between a remote store and a
    local directory named after the scheme."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local directory"):
        TableIO(root)
    assert os.listdir(tmp_path) == []


def test_hot_key_resalt_trigger(spark, tmp_path, monkeypatch):
    """g5 re-salt rule: holistic rollups salt only while the previous
    level's manifest max_cell_rows exceeds hot_key_threshold; the decision
    is recorded in lineage and never changes results."""
    from vt_grid_spark.operators import pyramid as pyr
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.sources import pages
    from vt_grid_spark.sources.table_io import TableIO

    monkeypatch.setattr(pyr, "SMALL_LEVEL_ROWS", 0)  # force distributed rollups
    pts = pages.with_coords(pages.pages_df(spark, 3000))
    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="langs", reducer="union", field="lang")]

    def build(threshold, name):
        io = TableIO(str(tmp_path / name))
        plan = PyramidPlan(
            bands=[ZoomBand(basezoom=9, minzoom=6, aggregations=specs)],
            gridsize=1, salt_buckets=8, hot_key_threshold=threshold)
        return pyr.build_pyramid(pts, plan, io, resume=False), io

    m_low, io_low = build(1, "low")       # everything is "hot" -> salt
    m_high, io_high = build(10**9, "high")  # nothing is -> skip the salt

    # the corpus hot cluster puts ~20% of points in one base cell
    assert m_low[8]["max_cell_rows"] > 300
    for z in (7, 6):
        assert m_low[z]["lineage"]["salted"] is True
        assert m_high[z]["lineage"]["salted"] is False
    a = {(r.x, r.y): (r.cnt, tuple(r.langs))
         for r in io_low.read_level(spark, 6).collect()}
    b = {(r.x, r.y): (r.cnt, tuple(r.langs))
         for r in io_high.read_level(spark, 6).collect()}
    assert a == b


def test_catalog_tableio_contract(spark, jobs_started):
    """CatalogTableIO satisfies the same contract as the parquet TableIO:
    one snapshot publish per writer call, resume skipping complete
    levels, levels readable back via spark.table, cluster_level.  Runs against the session catalog's
    V2 writer (managed parquet tables; an Iceberg catalog + jar flips
    `format` to 'iceberg' for snapshot lineage — exact config in the
    CatalogTableIO docstring).  Deliberately NO skip escape: if the
    catalog rejects V2 writes this must FAIL loudly, not vanish from the
    suite (round-3 finding)."""
    from vt_grid_spark.operators.pyramid import incremental_update
    from vt_grid_spark.sources.table_io import CatalogTableIO

    io = CatalogTableIO(spark, namespace="vtg_test", prefix="p1")

    specs = SPECS[:2] + [SPECS[5]]  # union: max_cell_rows is tracked
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=6, aggregations=specs)],
                       gridsize=16)
    pts = _points(spark, 1500)

    def max_cnt(z):
        return io.read_level(spark, z).agg(F.max("cnt")).collect()[0][0]

    def counted(man):
        # row_count is observed on each level's create job: no count job
        for z, m in man.items():
            assert spark.table(io._table(z, m["gen"])).count() == m["row_count"] > 0

    try:
        m1 = build_pyramid(pts, plan, io)
        assert sorted(m1) == [8, 9]  # cell zooms for outputs 7 (base), 6
        counted(m1)
        for z, man in m1.items():
            assert man["status"] == "complete"
            assert man["max_cell_rows"] == max_cnt(z)  # observed on the write

        # resume: every level complete -> nothing re-runs
        m2 = build_pyramid(pts, plan, io)
        assert {z: m["completed_at"] for z, m in m2.items()} == \
               {z: m["completed_at"] for z, m in m1.items()}

        # levels agree with the in-memory path
        mem = build_pyramid_df(pts, plan)
        for z in m1:
            a = {(r.x, r.y, r.cnt, r.sum_v)
                 for r in io.read_level(spark, z).collect()}
            b = {(r.x, r.y, r.cnt, r.sum_v)
                 for r in mem.where(F.col("zoom") == z).collect()}
            assert a == b

        # a journal read is a Spark job; inside a writer call the
        # completeness and delta checks read the snapshot its commit read
        assert jobs_started(io.delta_applied) == 1
        with io.commit():
            assert jobs_started(lambda: [io.level_complete(z) for z in m1]
                                + [io.delta_applied()]) == 0

        # a fold on this backend observes max_cell_rows on its merge
        # write; folding the same points doubles every count.  It reads the
        # journal once, when its commit opens (checking before the commit
        # read it 4 times, 3 more Spark jobs)
        loaded, load = [], io._load
        io._load = lambda kind: loaded.append(kind) or load(kind)
        m3 = incremental_update(pts, plan, io)
        del io._load
        assert loaded == ["snapshot"]
        counted(m3)
        for z in m1:
            assert m3[z]["row_count"] == m1[z]["row_count"]
            assert m3[z]["max_cell_rows"] == 2 * m1[z]["max_cell_rows"] == max_cnt(z)

        # the journal is append-only: a bare level write is one publish,
        # which appends one snapshot row; the latest wins
        def snapshots():
            return spark.table(io._journal).where(F.col("kind") == "snapshot").count()

        before = snapshots()
        m9 = io.write_level(io.read_level(spark, 9), 9, count_col="cnt")
        assert snapshots() == before + 1
        assert io.read_manifest(9)["gen"] == m9["gen"]
        assert io.read_manifest(9)["max_cell_rows"] == m9["max_cell_rows"] == max_cnt(9)

        # cluster_level: same rows, clustered, the replaced table dropped
        rows = {(r.x, r.y, r.cnt, r.sum_v) for r in io.read_level(spark, 9).collect()}
        old_table = io.level_table(9)
        m4 = io.cluster_level(spark, 9, partitions=4)
        assert m4["clustered"] is True and io.read_manifest(9)["clustered"] is True
        assert {(r.x, r.y, r.cnt, r.sum_v)
                for r in io.read_level(spark, 9).collect()} == rows
        assert not spark.catalog.tableExists(old_table)
        counted({9: m4})

        # one level write is one Spark job, the create: inside an open
        # commit, write_level starts that job plus the draft's journal
        # append, and stages its record once, with the max observed on the
        # create (a separate stage of the max would make the second 3)
        level = io.read_level(spark, 8)
        with io.commit():
            assert jobs_started(lambda: io._write(level, 8, "g0")) == 1
            staged = {}
            assert jobs_started(lambda: staged.update(
                io.write_level(level, 8, count_col="cnt"))) == 2
            assert io.read_manifest(8)["max_cell_rows"] == staged["max_cell_rows"]
            assert staged["max_cell_rows"] == max_cnt(8)
    finally:
        spark.sql("DROP NAMESPACE IF EXISTS vtg_test CASCADE")


def test_merge_cells_three_way_with_partials(spark):
    """tile-join merge: a 3-way split re-reduced equals the single-pass
    aggregation, including reducers that carry partials (mean: cnt+sum;
    areaWeightedMean: w+wv) and the holistic union."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import merge_cells
    from vt_grid_spark.plans.aggspec import compile_aggs, finalize_columns

    pts = _points(spark, 3000)
    enc = encode_points(pts, 6, with_quadkey=False) \
        .withColumn("_s", F.pmod(F.xxhash64("url"), F.lit(3)))
    exprs = compile_aggs(SPECS)
    parts = [cell_aggregate(enc.where(F.col("_s") == i), 6, exprs)
             for i in range(3)]
    merged = merge_cells(parts, 6, SPECS)
    whole = cell_aggregate(enc, 6, exprs)

    def norm(df):
        df = df.withColumn("mean_v", finalize_columns(SPECS)["mean_v"])
        return {(r.x, r.y): (r.cnt, round(r.sum_v, 6), round(r.mean_v, 6),
                             r.min_v, r.max_v, tuple(r.langs))
                for r in df.collect()}

    a, b = norm(merged), norm(whole)
    assert a == b and len(a) > 50


def test_hist_quantile_merge_exact_and_bounds(spark):
    """histQuantile property tests: (1) bucket arrays merged up two
    pyramid levels are IDENTICAL to histograms built directly at the
    coarse level (exact mergeability); (2) the pNN lower bound brackets
    the true percentile within one bucket width; (3) non-power-of-2
    width is rejected."""
    import numpy as np
    import pytest

    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_ancestors
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs, finalize_columns

    b, w = 16, 128.0
    spec = AggSpec(out="h", reducer="histQuantile", field="_v",
                   buckets=b, width=w, quantiles=(0.5, 0.95))
    pts = (pages.with_coords(pages.pages_df(spark, 2000))
           .withColumn("_v", F.length("text").cast("double")))
    enc = encode_points(pts, 8, with_quadkey=False)
    fine = cell_aggregate(enc, 8, compile_aggs([spec]))
    merged = rollup_ancestors(rollup_ancestors(fine, 8, 7, [spec]), 7, 6, [spec])
    direct = cell_aggregate(
        enc.withColumn("x", F.shiftright("x", 2))
           .withColumn("y", F.shiftright("y", 2)), 6, compile_aggs([spec]))
    a = {(r.x, r.y): tuple(r.h) for r in merged.collect()}
    bb = {(r.x, r.y): tuple(r.h) for r in direct.collect()}
    assert a == bb and len(a) > 3  # merge is EXACT

    fin = finalize_columns([spec])
    got = {(r.x, r.y): (r.p50, r.p95) for r in merged.select(
        "x", "y", fin["h_p50"].alias("p50"), fin["h_p95"].alias("p95")).collect()}
    vals: dict = {}
    for r in (enc.withColumn("x", F.shiftright("x", 2))
                 .withColumn("y", F.shiftright("y", 2))
                 .select("x", "y", "_v").collect()):
        vals.setdefault((r.x, r.y), []).append(r._v)
    for key, (p50, p95) in got.items():
        arr = np.sort(np.array(vals[key]))
        for q, lo in ((0.5, p50), (0.95, p95)):
            # the ceil(q*n)-th smallest value lives in the reported bucket
            true_q = arr[min(len(arr) - 1, int(np.ceil(q * len(arr))) - 1)]
            assert lo <= true_q < lo + w or (true_q >= (b - 1) * w
                                             and lo == (b - 1) * w), \
                (key, q, lo, true_q)

    with pytest.raises(ValueError, match="power of 2"):
        AggSpec(out="h", reducer="histQuantile", field="_v", width=48.0)


def test_arrow_merges_equal_spark_merges(spark):
    """The tail's Arrow executor (``aggspec.merge_arrow``) merges every
    partial exactly as Spark's combiners do (``rollup_ancestors``, one
    level), for one spec of every reducer.  The child cells hold NaN and
    duplicate values, an all-NaN parent (Spark's min and max are NaN where
    pyarrow's skip NaN and give +inf / -inf), a NaN beside numbers (Spark's
    max is NaN, its min is not), nulls (an all-null parent stays null),
    empty ``langs`` arrays, a kmv union cut at ``k`` and histograms."""
    import math

    from vt_grid_spark.operators.rollup import rollup_ancestors
    from vt_grid_spark.plans.aggspec import VALID_REDUCERS, merge_arrow

    specs = [
        AggSpec(out="cnt", reducer="count"),
        AggSpec(out="sum_v", reducer="sum", field="v"),
        AggSpec(out="min_v", reducer="min", field="v"),
        AggSpec(out="max_v", reducer="max", field="v"),
        AggSpec(out="mean_v", reducer="mean", field="v"),
        AggSpec(out="awm_v", reducer="areaWeightedMean", field="v", weight="v"),
        AggSpec(out="aws_v", reducer="areaWeightedSum", field="v", weight="v"),
        AggSpec(out="area", reducer="totalArea", weight="v"),
        AggSpec(out="langs", reducer="union", field="lang"),
        AggSpec(out="sk", reducer="kmvDistinct", field="url", k=4),
        AggSpec(out="h", reducer="histQuantile", field="v", buckets=3, width=2.0),
    ]
    assert {s.reducer for s in specs} == VALID_REDUCERS
    nan = float("nan")
    # (x, y, cnt, v, langs, sk, h): v fills every double partial
    cells = [
        (0, 0, 2, 1.0, ["en", "fr"], [1, 5, 9], [1, 0, 2]),
        (1, 0, 1, nan, ["en", "de"], [2, 5, 7], [0, None, 1]),
        (0, 1, 3, 3.0, [], [3], None),
        (1, 1, 1, 1.0, ["fr"], [], [2, 2, 2]),
        (2, 0, 1, nan, ["en"], [4, 8], [1, 1, 1]),  # parent (1, 0): all NaN
        (3, 1, 2, nan, [], [8, 4], [0, 0, 0]),
        (0, 2, 1, None, [], [], None),  # parent (0, 1): nulls and []
        (1, 3, 1, None, [], [], None),
        (2, 2, 5, None, ["de"], [6], [3, 0, None]),  # parent (1, 1): null, NaN
        (3, 3, 5, nan, ["de", "zz"], [1], [None, 0, None]),
        (3, 2, 5, 2.5, ["aa"], [0, 6, 9], [5, 5, 5]),
    ]
    doubles = ["sum_v", "min_v", "max_v", "mean_v__cnt", "mean_v__sum",
               "awm_v__w", "awm_v__wv", "aws_v", "area"]
    df = spark.createDataFrame(
        [(x, y, cnt, *[v] * len(doubles), langs, sk, h)
         for x, y, cnt, v, langs, sk, h in cells],
        "x int, y int, cnt long, " + ", ".join(f"{c} double" for c in doubles)
        + ", langs array<string>, sk array<bigint>, h array<bigint>")

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return tuple(norm(e) for e in v) if isinstance(v, (list, tuple)) else v

    cols = ["x", "y", "cnt", *doubles, "langs", "sk", "h"]
    want = sorted(tuple(norm(v) for v in r)
                  for r in rollup_ancestors(df, 5, 4, specs).select(*cols).collect())
    child = df.toArrow()
    got = merge_arrow(child, child["x"].to_numpy() >> 1, child["y"].to_numpy() >> 1,
                      specs)
    assert got.column_names == cols
    got = [tuple(norm(r[c]) for c in cols) for r in got.to_pylist()]
    assert got == want and len(got) == 4
    by_cell = {r[:2]: dict(zip(cols, r)) for r in got}
    assert by_cell[(1, 0)]["min_v"] == by_cell[(1, 0)]["max_v"] == "NaN"
    assert by_cell[(0, 0)]["min_v"] == 1.0 and by_cell[(0, 0)]["max_v"] == "NaN"
    assert by_cell[(0, 1)]["sum_v"] is None and by_cell[(0, 1)]["langs"] == ()
    assert by_cell[(0, 0)]["sk"] == (1, 2, 3, 5)  # the union cut at k


def _rows(df, cols):
    """A level as a set of row tuples (arrays as tuples)."""
    return {tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()}


def test_rollup_ancestors_equals_chained_rollup(spark, tmp_path):
    """The multi-level rollup and the tail: (1) ``rollup_ancestors``
    equals chained one-level rollups at every level for one spec of each
    reducer, salted or not; (2) its plan is ONE hash aggregation (a single
    hash exchange); (3) a two-band ``build_pyramid``, whose small levels
    all run through the tail, equals the in-memory ``build_pyramid_df`` as
    row sets, on both ``TableIO`` backends."""
    import re

    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_ancestors
    from vt_grid_spark.plans.aggspec import VALID_REDUCERS, compile_aggs
    from vt_grid_spark.sources.table_io import CatalogTableIO

    specs = [
        AggSpec(out="cnt", reducer="count"),
        AggSpec(out="sum_v", reducer="sum", field="v"),
        AggSpec(out="min_v", reducer="min", field="v"),
        AggSpec(out="max_v", reducer="max", field="v"),
        AggSpec(out="mean_v", reducer="mean", field="v"),
        AggSpec(out="awm_v", reducer="areaWeightedMean", field="v", weight="v"),
        AggSpec(out="aws_v", reducer="areaWeightedSum", field="v", weight="v"),
        AggSpec(out="area", reducer="totalArea", weight="v"),
        AggSpec(out="langs", reducer="union", field="lang"),
        AggSpec(out="sk", reducer="kmvDistinct", field="url", k=8),
        AggSpec(out="h", reducer="histQuantile", field="v", buckets=8, width=2.0),
    ]
    assert {s.reducer for s in specs} == VALID_REDUCERS
    enc = encode_points(_points(spark, 3000), 8, with_quadkey=False)
    fine = cell_aggregate(enc, 8, compile_aggs(specs)).localCheckpoint()
    batch = rollup_ancestors(fine, 8, 4, specs)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = batch._jdf.queryExecution().explainString(jmode)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    batch = batch.cache()
    cols = [c for c in batch.columns if c != "zoom"]
    chained = fine
    for z in range(7, 3, -1):
        chained = rollup_ancestors(chained, z + 1, z, specs)
        got = _rows(batch.where(F.col("zoom") == z), cols)
        assert got == _rows(chained, cols) and got, f"zoom {z} diverged"
    assert sorted(r.zoom for r in batch.select("zoom").distinct().collect()) \
        == [4, 5, 6, 7]
    # the two-phase (key, salt) -> key form gives the same rows
    salted = rollup_ancestors(fine, 8, 4, specs, salt_buckets=4)
    assert "_salt" in salted._jdf.queryExecution().optimizedPlan().toString()
    assert _rows(salted, ["zoom", *cols]) == _rows(batch, ["zoom", *cols])
    batch.unpersist()

    # two bands at the default SMALL_LEVEL_ROWS: the tail derives band 1's
    # levels from the base level and band 2's from band 1's last level
    # with band 2's specs (its min_v is the max of band 1's, so running
    # band 1's specs past the boundary would change it)
    band2 = [AggSpec(out="cnt", reducer="sum", field="cnt"), *SPECS[1:3],
             AggSpec(out="min_v", reducer="max", field="min_v"), *SPECS[4:]]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=7, aggregations=SPECS),
                              ZoomBand(basezoom=7, minzoom=4, aggregations=band2)],
                       gridsize=16)
    pts = _points(spark, 2000)
    mem = build_pyramid_df(pts, plan).cache()
    cols = ["x", "y", "cnt", "sum_v", "mean_v__cnt", "mean_v__sum",
            "min_v", "max_v", "langs"]
    for backend in ("parquet", "catalog"):
        try:
            io = (TableIO(str(tmp_path / "pyr")) if backend == "parquet"
                  else CatalogTableIO(spark, namespace="vtg_tail", prefix="p1"))
            man = build_pyramid(pts, plan, io, resume=False)
            assert sorted(man) == list(range(6, 11))
            assert all(man[z]["lineage"]["op"] == "rollup-small" for z in range(6, 10))
            for z in man:
                got = _rows(io.read_level(spark, z), cols)
                assert got == _rows(mem.where(F.col("zoom") == z), cols) and got, \
                    f"zoom {z} diverged"
        finally:
            if backend == "catalog":
                spark.sql("DROP NAMESPACE IF EXISTS vtg_tail CASCADE")
    mem.unpersist()


def test_sketch_reducers_quote_hyphenated_names(spark):
    """Generated SQL quotes every interpolated name: kmvDistinct over a
    hyphenated field and histQuantile under a hyphenated output name give
    the same cells as the same specs under plain names, through
    compile_aggs -> rollup_ancestors -> finalize_columns."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_ancestors
    from vt_grid_spark.plans.aggspec import compile_aggs

    enc = encode_points(_points(spark, 1500), 8, with_quadkey=False)

    def cells(field, hist):
        specs = [AggSpec(out="sk", reducer="kmvDistinct", field=field, k=8),
                 AggSpec(out=hist, reducer="histQuantile", field="v",
                         buckets=8, width=2.0)]
        fine = cell_aggregate(enc.withColumn(field, F.col("url")), 8,
                              compile_aggs(specs))
        top = rollup_ancestors(fine, 8, 7, specs)
        return _rows(top, ["x", "y", "sk", F.col(hist),
                           *finalize_columns(specs).values()])

    want = cells("dom_name", "len_hist")
    assert cells("dom-name", "len-hist") == want and want


def test_reducer_names_branch_only_in_aggspec():
    """Architecture gate: each reducer is defined once, in
    ``aggspec.REDUCERS``; no other module compares ``.reducer`` with
    ``==``, ``!=``, ``in`` or ``not in`` (use ``is_holistic``,
    ``count_column``, ``partial_columns`` or the table instead)."""
    import ast
    import pathlib

    import vt_grid_spark

    root = pathlib.Path(vt_grid_spark.__file__).parent
    ops = (ast.Eq, ast.NotEq, ast.In, ast.NotIn)
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "plans" / "aggspec.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Compare)
                    and any(isinstance(o, ops) for o in node.ops)
                    and any(isinstance(e, ast.Attribute) and e.attr == "reducer"
                            for e in (node.left, *node.comparators))):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not hits, hits


def test_tail_crash_then_resume_equals_one_shot(spark, tmp_path, monkeypatch):
    """Fault injection in the tail: a crash while writing the 4th tail
    level leaves the base and the three tail levels before it staged but
    unpublished; a resumed build keeps them (same completed_at) and every
    level then equals a one-shot build as row sets."""
    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=3, aggregations=SPECS)],
                       gridsize=16)
    pts = _points(spark, 2000)
    io = TableIO(str(tmp_path / "crash"))
    staged = _crash_writes(monkeypatch, before={5})  # base 10, tail 9 8 7 | 6
    with pytest.raises(RuntimeError, match="injected crash"):
        build_pyramid(pts, plan, io)
    monkeypatch.undo()
    assert sorted(staged) == [7, 8, 9, 10]
    assert not any(io.level_complete(z) for z in range(5, 11))

    man = build_pyramid(pts, plan, io, resume=True)
    assert {z: man[z]["completed_at"] for z in staged} == \
           {z: r["completed_at"] for z, r in staged.items()}
    one_shot = TableIO(str(tmp_path / "one_shot"))
    want = build_pyramid(pts, plan, one_shot, resume=False)
    assert sorted(man) == sorted(want) == list(range(5, 11))
    zooms = sorted(man)
    got = _level_rows(io, spark, zooms)
    assert got == _level_rows(one_shot, spark, zooms) and all(got.values())


def test_kmv_sketch_merge_exact_and_estimate_sane(spark):
    """KMV property tests: (1) sketches merged up two pyramid levels are
    IDENTICAL to sketches built directly at the coarse level (exact
    mergeability); (2) the estimator lands within ~3 standard errors
    (rse = 1/sqrt(k-1)) of the true distinct count when it saturates."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.operators.rollup import rollup_ancestors
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs, finalize_columns

    k = 64
    spec = AggSpec(out="sk", reducer="kmvDistinct", field="_v", k=k)
    # 2000 points, 700 distinct values, clustered coords from the corpus
    pts = (pages.with_coords(pages.pages_df(spark, 2000))
           .withColumn("_v", F.concat(F.lit("v"), F.pmod(F.xxhash64("url"),
                                                         F.lit(700)))))
    enc = encode_points(pts, 8, with_quadkey=False)
    fine = cell_aggregate(enc, 8, compile_aggs([spec]))
    merged = rollup_ancestors(rollup_ancestors(fine, 8, 7, [spec]), 7, 6, [spec])
    direct = cell_aggregate(
        enc.withColumn("x", F.shiftright("x", 2))
           .withColumn("y", F.shiftright("y", 2)), 6, compile_aggs([spec]))
    a = {(r.x, r.y): tuple(r.sk) for r in merged.collect()}
    b = {(r.x, r.y): tuple(r.sk) for r in direct.collect()}
    assert a == b and len(a) > 3  # merge is EXACT, not approximately equal

    est = finalize_columns([spec])["sk_est"]
    got = {(r.x, r.y): r.e for r in merged.select("x", "y", est.alias("e")).collect()}
    truth = {(r.x, r.y): r.t for r in
             enc.withColumn("x", F.shiftright("x", 2))
                .withColumn("y", F.shiftright("y", 2))
                .groupBy("x", "y").agg(F.countDistinct("_v").alias("t")).collect()}
    saturated = 0
    for cell, t in truth.items():
        if t < k:
            assert got[cell] == t  # below k the sketch is exact
        else:
            saturated += 1
            assert abs(got[cell] - t) / t < 3.0 / (k - 1) ** 0.5
    assert saturated >= 1  # the hot cluster must exercise the estimator


def test_incremental_update_equals_rebuild(spark, tmp_path):
    """Delta ingest: build over batch A, incremental_update with batch B —
    every level must EQUAL a clean build over A ∪ B (the mergeable-reducer
    monoid property end-to-end, including the kmvDistinct sketch and the
    driver-side small-level path)."""
    from vt_grid_spark.operators.pyramid import incremental_update

    specs = SPECS + [AggSpec(out="sk", reducer="kmvDistinct", field="lang", k=8)]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=specs)],
                       gridsize=16)
    pts = _points(spark, 3000).cache()
    a = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) != 0)
    b = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    assert 0 < b.count() < pts.count()

    io_inc = TableIO(str(tmp_path / "inc"))
    build_pyramid(a, plan, io_inc, resume=False)
    man = incremental_update(b, plan, io_inc)
    io_full = TableIO(str(tmp_path / "full"))
    man_full = build_pyramid(pts, plan, io_full, resume=False)

    fin = finalize_columns(specs)
    for z in man:
        assert man[z]["status"] == "complete"
        assert man[z]["lineage"]["op"] == \
            ("incremental-merge" if z == max(man) else "rollup-small")

        def norm(df):
            df = df.withColumn("mean_v", fin["mean_v"])
            return {(r.x, r.y): (r.cnt, round(r.sum_v, 6), round(r.mean_v, 6),
                                 r.min_v, r.max_v, tuple(r.langs), tuple(r.sk))
                    for r in df.collect()}

        got, want = norm(io_inc.read_level(spark, z)), norm(io_full.read_level(spark, z))
        assert got == want and len(got) > 0, f"zoom {z} diverged"
        assert man[z]["row_count"] == man_full[z]["row_count"]
        assert man[z]["max_cell_rows"] == man_full[z]["max_cell_rows"]
    pts.unpersist()


@pytest.mark.parametrize("basezoom, minzoom", [(9, 8), (13, 0)],
                         ids=["one_level", "thirteen_levels"])
def test_incremental_update_job_audit(spark, tmp_path, jobs_started, basezoom, minzoom):
    """A one-level fold with the benchmark's count + sum + union plan
    computes the delta partials once (an eager localCheckpoint) and takes
    max_cell_rows from the merge write itself: 5 jobs, none of which
    recomputes the delta or re-reads the committed level.  With the
    partials lazily persisted instead, the merge's concurrent query stages
    each recomputed them and a read-back of the level followed: 12 jobs.
    Reading a level takes its schema from its record: inferring it was
    one more job per read (6 jobs).

    A 13-level fold (cell zooms 12 -> 0) merges only the base level in
    Spark and derives the 12 small levels above it with the build's tail,
    from the merged level read back as Arrow: at most 6 jobs (7 with the
    tail aggregated in Spark, 9 with schema inference, 78 merging every
    level), and every level equals a one-shot build over both batches."""
    from vt_grid_spark.operators.pyramid import incremental_update

    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="sum_v", reducer="sum", field="v"),
             AggSpec(out="langs", reducer="union", field="lang")]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=basezoom, minzoom=minzoom,
                                       aggregations=specs)],
                       gridsize=1)
    zooms = [z for _, z, _ in plan.levels()]
    pts = _points(spark, 3000)
    a = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) != 0)
    b = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    io = TableIO(str(tmp_path / "pyr"))
    build_pyramid(a, plan, io, resume=False)

    man = {}
    n_jobs = jobs_started(lambda: man.update(incremental_update(b, plan, io)))
    assert [man[z]["lineage"]["op"] for z in zooms] == \
        ["incremental-merge"] + ["rollup-small"] * (len(zooms) - 1)
    for z in zooms:
        assert man[z]["max_cell_rows"] == _max_cnt(io, spark, z)
    if len(zooms) == 1:
        assert zooms == [8]
        assert n_jobs == 5, n_jobs
    else:
        assert zooms == list(range(12, -1, -1))
        assert n_jobs <= 6, n_jobs
        one_shot = TableIO(str(tmp_path / "one_shot"))
        build_pyramid(pts, plan, one_shot, resume=False)
        assert _level_rows(io, spark, zooms) == _level_rows(one_shot, spark, zooms)


@pytest.mark.parametrize("small_level_rows, n_spark, n_jobs",
                         [(None, 1, 3), (2000, 7, 15)],
                         ids=["one_spark_level", "seven_spark_levels"])
def test_build_job_audit(spark, tmp_path, monkeypatch, jobs_started,
                         small_level_rows, n_spark, n_jobs):
    """The build's twin of the fold's job audit, with the benchmark's
    count + sum + union plan over cell zooms 12 -> 0.  Each Spark level is
    written from a plan nothing caches and read back by the level above
    it, and a level read starts no job; the tail reads the level below it
    as Arrow (one scan job) and aggregates on the driver: at the default
    threshold (the base level, then the tail) the build starts 3 jobs, and
    with ``SMALL_LEVEL_ROWS`` at 2,000 (Spark levels 12 -> 6, then the
    tail) 15.  A Spark aggregation of the tail was one job more (4 and
    16); persisting each Spark level for the next one started one more
    job per level (5 and 23).  Every level equals ``build_pyramid_df``, and
    the session caches nothing afterwards."""
    from vt_grid_spark.operators import pyramid as pyr

    if small_level_rows is not None:
        monkeypatch.setattr(pyr, "SMALL_LEVEL_ROWS", small_level_rows)
    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="sum_v", reducer="sum", field="v"),
             AggSpec(out="langs", reducer="union", field="lang")]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=13, minzoom=0, aggregations=specs)],
                       gridsize=1)
    zooms = [z for _, z, _ in plan.levels()]
    pts = _points(spark, 3000)
    io = TableIO(str(tmp_path / "pyr"))

    man = {}
    got = jobs_started(lambda: man.update(build_pyramid(pts, plan, io, resume=False)))
    assert [man[z]["lineage"]["op"] for z in zooms] == \
        ["encode+aggregate"] + ["rollup"] * (n_spark - 1) + \
        ["rollup-small"] * (len(zooms) - n_spark)
    assert got == n_jobs, got
    mem = build_pyramid_df(pts, plan)
    cols = ["x", "y", "cnt", "sum_v", "langs"]
    for z in zooms:
        assert _rows(io.read_level(spark, z), cols) == \
            _rows(mem.where(F.col("zoom") == z), cols), f"zoom {z}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_empty_cover_build_records_zero_max(spark, tmp_path):
    """A cover that holds none of the points gives empty levels, Spark base
    and driver-side tail alike; with a holistic reducer each records
    max_cell_rows == 0 instead of failing on the empty max."""
    plan = PyramidPlan(
        bands=[ZoomBand(basezoom=8, minzoom=5,
                        aggregations=[AggSpec(out="cnt", reducer="count"),
                                      AggSpec(out="langs", reducer="union",
                                              field="lang")])],
        gridsize=16, bbox=(-60, -40, -50, -30))
    pts = _points(spark, 1500)
    assert pts.where(F.col("lon").between(-60, -50)
                     & F.col("lat").between(-40, -30)).count() == 0
    man = build_pyramid(pts, plan, TableIO(str(tmp_path / "pyr")), resume=False)
    assert sorted(man) == [7, 8, 9]
    for z, m in man.items():
        assert m["status"] == "complete" and m["row_count"] == 0, z
        assert m["max_cell_rows"] == 0, z


def _max_cnt(io, spark, z):
    return io.read_level(spark, z).agg(F.max("cnt")).collect()[0][0]


def test_fold_restores_missing_max_cell_rows(spark, tmp_path):
    """Build and fold track max_cell_rows by one plan-level rule: levels
    rewritten without ``count_col`` (records with no max) regain it on
    their next fold, equal to the folded level's re-read max count."""
    from vt_grid_spark.operators.pyramid import incremental_update

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=6,
                                       aggregations=SPECS[:2] + [SPECS[5]])],
                       gridsize=16)
    zooms = [z for _, z, _ in plan.levels()]
    pts = _points(spark, 1500)
    io = TableIO(str(tmp_path / "pyr"))
    build_pyramid(pts, plan, io, resume=False)
    with io.commit():
        for z in zooms:
            io.write_level(io.read_level(spark, z), z,
                           lineage=io.read_manifest(z)["lineage"])
    assert not any("max_cell_rows" in io.read_manifest(z) for z in zooms)

    man = incremental_update(pts, plan, io)
    for z in zooms:
        assert man[z]["max_cell_rows"] == io.read_manifest(z)["max_cell_rows"] \
            == _max_cnt(io, spark, z)


def test_band_without_count_records_no_max(spark, tmp_path):
    """Each level tracks its own band's count column: in a holistic plan
    whose upper band has no count spec, the lower band's levels record
    max_cell_rows (build and fold), the upper band's level records none,
    and neither path asks a level for a column it does not have."""
    from vt_grid_spark.operators.pyramid import incremental_update

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=6,
                                       aggregations=SPECS[:2] + [SPECS[5]]),
                              ZoomBand(basezoom=6, minzoom=5, aggregations=[SPECS[5]])],
                       gridsize=16)
    assert [z for _, z, _ in plan.levels()] == [9, 8, 7]
    pts = _points(spark, 1500)
    io = TableIO(str(tmp_path / "pyr"))
    for write in (lambda: build_pyramid(pts, plan, io, resume=False),
                  lambda: incremental_update(pts, plan, io)):
        man = write()
        for z in (9, 8):
            assert man[z]["max_cell_rows"] == _max_cnt(io, spark, z) > 0
        assert "max_cell_rows" not in man[7]
        assert "cnt" not in io.read_level(spark, 7).columns


def test_crash_at_a_stage_leaves_every_record_with_its_max(spark, tmp_path,
                                                           monkeypatch):
    """A level write stages its record once, max_cell_rows included, so
    no crash can leave a record without it: with the second stage of a
    holistic build raising, the base level stays staged, a resume stages
    each remaining level once, and every record's max_cell_rows equals
    the level's re-read max count."""
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5,
                                       aggregations=SPECS[:2] + [SPECS[5]])],
                       gridsize=16)
    zooms = [z for _, z, _ in plan.levels()]
    assert len(zooms) == 3
    pts = _points(spark, 1500)
    io = TableIO(str(tmp_path / "pyr"))
    put, staged = TableIO._put, []

    def crashing_put(self, record):
        staged.append(record["zoom"])
        if len(staged) == 2:
            raise RuntimeError("injected crash")
        return put(self, record)

    monkeypatch.setattr(TableIO, "_put", crashing_put)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_pyramid(pts, plan, io, resume=False)
    man = build_pyramid(pts, plan, io, resume=True)
    for z in zooms:
        assert io.read_manifest(z)["max_cell_rows"] == man[z]["max_cell_rows"] \
            == _max_cnt(io, spark, z)
    assert staged == zooms[:2] + zooms[1:]


def test_incremental_update_requires_complete_pyramid(spark, tmp_path):
    from vt_grid_spark.operators.pyramid import incremental_update

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=7, aggregations=SPECS[:2])],
                       gridsize=16)
    with pytest.raises(ValueError, match="complete pyramid"):
        incremental_update(_points(spark, 100), plan, TableIO(str(tmp_path / "x")))


def _with_stored_quadkey(io, spark, zooms):
    """Rewrite levels in the layout from before levels stopped storing the
    quadkey: ``x, y, quadkey`` and the aggregates, records kept."""
    from vt_grid_spark import functions as vf

    with io.commit():
        for z in zooms:
            old = io.read_manifest(z)
            level = io.read_level(spark, z)
            aggs = [c for c in level.columns if c not in ("zoom", "x", "y")]
            io.write_level(level.select("x", "y", vf.quadkey(F.col("x"), F.col("y"), z)
                                        .alias("quadkey"), *aggs),
                           z, lineage=old["lineage"], count_col="cnt")


def test_stored_quadkey_layout_reads_resumes_and_folds(spark, tmp_path):
    """A pyramid whose levels still store ``quadkey`` reads, resumes (the
    missing upper levels roll up from a stored level) and folds; the
    folded levels drop the column and equal a clean rebuild over both
    batches on x, y and every aggregate."""
    from vt_grid_spark.operators.pyramid import incremental_update

    small = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS)],
                        gridsize=16)
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=3, aggregations=SPECS)],
                       gridsize=16)
    zooms = [9, 8, 7, 6, 5]
    pts = _points(spark, 3000).cache()
    a = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) != 0)
    b = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    io = TableIO(str(tmp_path / "old"))
    build_pyramid(a, small, io, resume=False)
    _with_stored_quadkey(io, spark, [9, 8, 7])
    assert all("quadkey" in io.read_level(spark, z).columns for z in (9, 8, 7))

    man = build_pyramid(a, plan, io, resume=True)
    assert sorted(man) == sorted(zooms)
    assert all(man[z]["lineage"]["op"] == "rollup-small" for z in (6, 5))
    one_shot = TableIO(str(tmp_path / "a"))
    build_pyramid(a, plan, one_shot, resume=False)
    cols = [c for c in one_shot.read_level(spark, 9).columns if c != "zoom"]
    assert {z: _rows(io.read_level(spark, z), cols) for z in zooms} == \
        {z: _rows(one_shot.read_level(spark, z), cols) for z in zooms}

    incremental_update(b, plan, io)
    full = TableIO(str(tmp_path / "full"))
    build_pyramid(pts, plan, full, resume=False)
    for z in zooms:
        folded = io.read_level(spark, z)
        assert "quadkey" not in folded.columns, z
        got = _rows(folded, cols)
        assert got == _rows(full.read_level(spark, z), cols) and got, z
    pts.unpersist()


def test_levels_store_no_quadkey_and_build_needs_no_pandas(spark, tmp_path,
                                                           monkeypatch):
    """No stored level carries ``quadkey``: Spark levels (base and a
    distributed rollup), tail levels, folded levels and a custom pyramid.
    The build and fold paths collect the tail as Arrow: with
    ``DataFrame.toPandas`` raising, both still finish."""
    from pyspark.sql.classic.dataframe import DataFrame

    from vt_grid_spark.operators import pyramid as pyr
    from vt_grid_spark.operators.custom_reduce import build_custom_pyramid
    from vt_grid_spark.operators.encode import encode_points

    def no_pandas(self, *args, **kwargs):
        raise AssertionError("toPandas on the build path")

    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=4, aggregations=SPECS)],
                       gridsize=16)
    zooms = [10, 9, 8, 7, 6]
    pts = _points(spark, 2000).cache()
    n_base = encode_points(pts, 10).select("x", "y").distinct().count()
    # the base level alone is big enough for a distributed rollup
    monkeypatch.setattr(pyr, "SMALL_LEVEL_ROWS", n_base)
    monkeypatch.setattr(DataFrame, "toPandas", no_pandas)

    io = TableIO(str(tmp_path / "pyr"))
    man = build_pyramid(pts, plan, io, resume=False)
    assert [man[z]["lineage"]["op"] for z in zooms] == \
        ["encode+aggregate", "rollup"] + ["rollup-small"] * 3
    man = pyr.incremental_update(pts, plan, io)
    assert [man[z]["lineage"]["op"] for z in zooms] == \
        ["incremental-merge"] * 2 + ["rollup-small"] * 3
    custom = TableIO(str(tmp_path / "custom"))
    build_custom_pyramid(pts, custom, lambda pdf, tile: {"n": len(pdf)}, "n long",
                         basezoom=6, minzoom=5, gridsize=16)
    for store, levels in ((io, zooms), (custom, [8, 7])):
        for z in levels:
            cols = store.read_level(spark, z).columns
            assert "quadkey" not in cols and {"x", "y"} <= set(cols), (z, cols)
    pts.unpersist()


def _snapshot_files(root):
    return sorted(n for n in os.listdir(root) if n.startswith("_snapshot"))


def test_one_rename_per_writer_call(spark, tmp_path, monkeypatch):
    """Staging a level appends to the draft log; the snapshot publish is
    the only rename of a writer call, and it renames to a fresh numbered
    name, so no rename targets an existing file (on ext4 a rename over a
    file waits for the renamed file's write-back): a build with a Spark
    base level and five tail levels makes one, and so does a fold of a
    single-level pyramid."""
    from vt_grid_spark.operators import pyramid as pyr

    renamed = []

    def recording(rename):
        def record(src, dst, *args, **kwargs):
            if str(dst).startswith(str(tmp_path)):
                renamed.append((os.path.basename(dst), os.path.exists(dst)))
            return rename(src, dst, *args, **kwargs)
        return record

    for name in ("rename", "replace"):
        monkeypatch.setattr(os, name, recording(getattr(os, name)))
    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=3, aggregations=SPECS)],
                       gridsize=16)
    pts = _points(spark, 2000)
    man = build_pyramid(pts, plan, TableIO(str(tmp_path / "pyr")), resume=False)
    ops = [man[z]["lineage"]["op"] for z in sorted(man, reverse=True)]
    assert ops == ["encode+aggregate"] + ["rollup-small"] * 5
    assert renamed == [("_snapshot.1.json", False)]

    one = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=7, aggregations=SPECS)],
                      gridsize=16)
    io = TableIO(str(tmp_path / "one"))
    build_pyramid(pts, one, io, resume=False)
    renamed.clear()
    pyr.incremental_update(pts, one, TableIO(io.root, delta_id=1))
    assert renamed == [("_snapshot.2.json", False)]
    assert _snapshot_files(io.root) == ["_snapshot.2.json"]


def test_torn_draft_log_line_is_rebuilt(spark, tmp_path, monkeypatch):
    """A crash partway through a build leaves the draft log with the base
    and three tail records; with the last line cut in half (a torn
    append), a resume keeps the earlier records (same completed_at),
    rebuilds the torn level, and equals a one-shot build."""
    plan = PyramidPlan(bands=[ZoomBand(basezoom=9, minzoom=3, aggregations=SPECS)],
                       gridsize=16)
    pts = _points(spark, 2000)
    io = TableIO(str(tmp_path / "crash"))
    staged = _crash_writes(monkeypatch, before={5})  # base 10, tail 9 8 7 | 6
    with pytest.raises(RuntimeError, match="injected crash"):
        build_pyramid(pts, plan, io)
    monkeypatch.undo()
    assert sorted(staged) == [7, 8, 9, 10]

    log = os.path.join(io.root, "_draft.jsonl")
    with open(log, "rb") as f:
        data = f.read()
    start = data.rindex(b"\n", 0, len(data) - 1) + 1  # the last line, zoom 7's
    assert b'"zoom": 7' in data[start:]
    with open(log, "wb") as f:
        f.write(data[:start + (len(data) - start) // 2])

    man = build_pyramid(pts, plan, io, resume=True)
    assert {z: man[z]["completed_at"] for z in (8, 9, 10)} == \
           {z: staged[z]["completed_at"] for z in (8, 9, 10)}
    assert man[7]["completed_at"] > staged[7]["completed_at"]
    assert man[7]["gen"] != staged[7]["gen"]
    one_shot = TableIO(str(tmp_path / "one_shot"))
    build_pyramid(pts, plan, one_shot, resume=False)
    zooms = sorted(man)
    got = _level_rows(io, spark, zooms)
    assert got == _level_rows(one_shot, spark, zooms) and all(got.values())
    for z in zooms:
        assert os.listdir(os.path.join(io.root, f"zoom={z}")) == [man[z]["gen"]]
    assert not os.path.exists(log)


def test_draft_from_before_the_log_is_ignored(spark, tmp_path):
    """A root that still holds a one-document ``_draft.json`` (the draft's
    form before the log) keeps working: a resume does not read it and
    resumes from the published levels, and the publish deletes it along
    with the log."""
    import json

    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS[:2])],
                       gridsize=16)
    pts = _points(spark, 1500)
    io = TableIO(str(tmp_path / "pyr"))
    m1 = build_pyramid(pts, plan, io, resume=False)
    with open(os.path.join(io.root, "_snapshot.1.json")) as f:
        snap = json.load(f)
    stale = {**m1[9], "gen": "g000000000000", "completed_at": 0.0}
    with open(os.path.join(io.root, "_draft.json"), "w") as f:
        json.dump({"base": snap["id"], "resumable": True,
                   "levels": {**snap["levels"], "9": stale}}, f)

    m2 = build_pyramid(pts, plan, io, resume=True)
    assert {z: m["completed_at"] for z, m in m2.items()} == \
           {z: m["completed_at"] for z, m in m1.items()}
    assert sorted(n for n in os.listdir(io.root) if n.startswith("_")) == \
        ["_snapshot.2.json"]
    assert _level_rows(io, spark, [9, 8, 7])[9]


def test_concurrent_stages_all_reach_the_draft_log(tmp_path):
    """The draft log, not only the in-memory draft, holds every stage of
    concurrent writers: 64 level writes from 16 threads, with a short
    thread switch interval, then a crash before the publish; a resume
    sees all 64 records."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    io = TableIO(str(tmp_path / "pyr"))
    table = pa.table({"x": [1, 2], "y": [3, 4], "cnt": [5, 6]})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(RuntimeError, match="injected crash"), \
                io.commit("empty"), ThreadPoolExecutor(max_workers=16) as pool:
            done = list(pool.map(lambda z: io.write_level_pandas(table, z), range(64),
                                 timeout=120))
            raise RuntimeError("injected crash")
    finally:
        sys.setswitchinterval(interval)
    assert len(done) == 64
    resumed = TableIO(io.root)
    with resumed.commit("resume"):
        assert all(resumed.read_manifest(z) == done[z] for z in range(64))


def test_read_level_starts_no_job(spark, tmp_path, jobs_started):
    """A level's record holds its Spark schema, so ``read_level`` infers
    none and starts no Spark job (inference was one job per read), for a
    level written by ``write_level`` (the Spark base) and by
    ``write_level_pandas`` (the tail) alike.  The recorded schema is the
    one inference finds, and the rows read are the rows written."""
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS)],
                       gridsize=16)
    io = TableIO(str(tmp_path / "pyr"))
    man = build_pyramid(_points(spark, 1500), plan, io, resume=False)
    assert [man[z]["lineage"]["op"] for z in (9, 8, 7)] == \
        ["encode+aggregate", "rollup-small", "rollup-small"]
    levels = {}
    for z in (9, 8, 7):
        assert jobs_started(lambda: levels.update({z: io.read_level(spark, z)})) == 0
        inferred = spark.read.parquet(io.level_path(z))
        assert levels[z].drop("zoom").schema == inferred.schema, z
        assert _rows(levels[z], inferred.columns) == _rows(inferred, inferred.columns)
    assert _rows(levels[9], ["cnt"]) and _rows(levels[7], ["cnt"])


def test_crash_between_publish_and_collection(spark, tmp_path, monkeypatch):
    """A writer killed after its snapshot rename, before the collection,
    has published: readers see the new pyramid (the highest-numbered
    snapshot) although the old snapshot and the replaced generations are
    still on disk, and the next publish leaves one snapshot file and only
    the live generations."""
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS)],
                       gridsize=16)
    zooms = [9, 8, 7]
    root = str(tmp_path / "pyr")
    build_pyramid(_points(spark, 1500), plan, TableIO(root), resume=False)
    new = _points(spark, 2500)
    one_shot = TableIO(str(tmp_path / "one_shot"))
    build_pyramid(new, plan, one_shot, resume=False)
    want = _level_rows(one_shot, spark, zooms)

    def killed(self, snapshot):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(TableIO, "_collect", killed)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_pyramid(new, plan, TableIO(root), resume=False)
    monkeypatch.undo()
    assert _snapshot_files(root) == ["_snapshot.1.json", "_snapshot.2.json"]
    assert all(len(os.listdir(os.path.join(root, f"zoom={z}"))) == 2 for z in zooms)
    assert _level_rows(TableIO(root), spark, zooms) == want

    man = build_pyramid(new, plan, TableIO(root), resume=True)
    assert _snapshot_files(root) == ["_snapshot.3.json"]
    assert sorted(n for n in os.listdir(root) if n.startswith("_")) == \
        ["_snapshot.3.json"]
    for z in zooms:
        assert os.listdir(os.path.join(root, f"zoom={z}")) == [man[z]["gen"]]
    assert _level_rows(TableIO(root), spark, zooms) == want


def test_root_from_before_numbered_snapshots_is_upgraded(spark, tmp_path):
    """A root published before snapshots were numbered and records held a
    schema (one ``_snapshot.json``; no ``schema`` in any record) keeps
    working: its levels read by inference, a resumed build derives the
    missing upper levels from such a level, a fold merges into one, and
    the first publish replaces ``_snapshot.json`` with a numbered
    snapshot.  Every level then equals a one-shot build over both
    batches, and every rewritten record holds its schema."""
    import json

    from vt_grid_spark.operators.pyramid import incremental_update

    small = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=5, aggregations=SPECS)],
                        gridsize=16)
    plan = PyramidPlan(bands=[ZoomBand(basezoom=8, minzoom=3, aggregations=SPECS)],
                       gridsize=16)
    zooms = [9, 8, 7, 6, 5]
    pts = _points(spark, 3000).cache()
    a = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) != 0)
    b = pts.where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    root = str(tmp_path / "old")
    fresh = TableIO(str(tmp_path / "a"))
    build_pyramid(a, small, fresh, resume=False)
    build_pyramid(a, small, TableIO(root), resume=False)
    with open(os.path.join(root, "_snapshot.1.json")) as f:
        snap = json.load(f)
    for record in snap["levels"].values():
        del record["schema"]
    with open(os.path.join(root, "_snapshot.json"), "w") as f:
        json.dump(snap, f)
    os.remove(os.path.join(root, "_snapshot.1.json"))

    io = TableIO(root)
    assert all("schema" not in io.read_manifest(z) for z in (9, 8, 7))
    assert _level_rows(io, spark, [9, 8, 7]) == _level_rows(fresh, spark, [9, 8, 7])
    man = build_pyramid(a, plan, io, resume=True)
    assert [man[z]["lineage"]["op"] for z in (6, 5)] == ["rollup-small"] * 2
    assert _snapshot_files(root) == ["_snapshot.2.json"]

    incremental_update(b, plan, TableIO(root, delta_id=1))
    assert _snapshot_files(root) == ["_snapshot.3.json"]
    assert all("schema" in io.read_manifest(z) for z in zooms)
    full = TableIO(str(tmp_path / "full"))
    build_pyramid(pts, plan, full, resume=False)
    got = _level_rows(io, spark, zooms)
    assert got == _level_rows(full, spark, zooms) and all(got.values())
    pts.unpersist()
