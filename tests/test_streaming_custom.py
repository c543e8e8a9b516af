"""Streaming == batch equivalence; custom reducer calling convention."""

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streaming_equals_batch(spark, tmp_path):
    import shutil

    from vt_grid_spark.streaming.events import (run_stream_from_parquet,
                                                windowed_cell_counts)

    batch = spark.read.parquet(f"{SF}/events.parquet")
    want = {(str(r.window_start), r.x, r.y, r.cnt, r.sum_value)
            for r in windowed_cell_counts(batch).collect()}

    # streaming file source needs a directory
    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", src_dir / "part-0.parquet")
    run_stream_from_parquet(spark, str(src_dir), batch.schema, "stream_cells")
    got = {(str(r.window_start), r.x, r.y, r.cnt, r.sum_value)
           for r in spark.sql("SELECT * FROM stream_cells").collect()}
    assert got == want
    assert len(want) > 100


def test_custom_reducer_tile_passthrough(spark):
    """Mirror of the reference's custom 'tile' reducer check
    (/root/reference/test/lib/aggregate-cells.js:13,24-25: the mapper tile
    reaches the reducer as its 4th argument)."""
    from vt_grid_spark.operators.custom_reduce import apply_custom_reducer
    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.sources import pages

    pts = pages.with_coords(pages.pages_df(spark, 500))
    enc = encode_points(pts, 10, with_quadkey=False)

    def reducer(pdf: pd.DataFrame, tile) -> dict:
        # reference convention: memo starts falsy, first call stamps the tile
        return {"n": len(pdf), "tile": ",".join(str(t) for t in tile)}

    out = apply_custom_reducer(enc, cell_z=10, mapper_z=5, reduce_fn=reducer,
                               result_schema="n long, tile string").collect()
    assert sum(r.n for r in out) == pts.count()
    for r in out:
        z, tx, ty = (int(v) for v in r.tile.split(","))
        assert (z, tx, ty) == (5, r.x >> 5, r.y >> 5)


def test_post_aggregations(spark):
    """postAggregations semantics (/root/reference/lib/aggregate-cells.js:96-101,
    README.md:109-117): per-cell scalar derived after aggregation — e.g.
    unique_count = size(union array)."""
    from vt_grid_spark.operators.encode import cell_aggregate, encode_points
    from vt_grid_spark.plans.aggspec import AggSpec, compile_aggs
    from vt_grid_spark.sources import pages

    pts = pages.with_coords(pages.pages_df(spark, 1000))
    enc = encode_points(pts, 4, with_quadkey=False)
    cells = cell_aggregate(enc, 4, compile_aggs([AggSpec(out="langs", reducer="union", field="lang")]))
    out = cells.withColumn("unique_count", F.size("langs").cast("long")).collect()
    for r in out:
        assert r.unique_count == len(set(r.langs))


def test_stateful_sessionize_stream_equals_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == window-function batch
    sessionization. A far-future sentinel file advances the watermark in a
    second microbatch so every real session times out and flushes."""
    import os
    import time

    from pyspark.sql import functions as F

    from vt_grid_spark.streaming.sessions import sessionize_batch, sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "sess_src")
    events.coalesce(1).write.parquet(src)
    time.sleep(1.1)  # sentinel file must sort AFTER the data file (mtime)
    sentinel = spark.createDataFrame(
        [(999_999_999, )], "event_id long").select(
        "event_id",
        F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("ts"),
        F.lit(999_999).alias("user_id"), F.lit("x").alias("event_type"),
        F.lit(0.0).alias("value"), F.lit("{}").alias("props"))
    sentinel.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream, gap_s=14400).writeStream
         .outputMode("append").format("memory").queryName("sess_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
           for r in spark.table("sess_out").collect() if r.user_id != 999_999}
    want = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
            for r in sessionize_batch(events, gap_s=14400).collect()}
    assert len(want) > 50
    assert got == want


def test_stateful_sessionize_late_in_watermark_events(spark, tmp_path):
    """Out-of-order events ACROSS microbatches — late but inside the 1h
    watermark, the case watermarks exist for. A later batch delivers events
    older than the stored session's `last`: one that extends the session
    backwards (u1), one that falls inside its span (u2), and one old enough
    to be its own earlier session (u3). Regression: the old handler compared
    only the batch head against `last` and overwrote session_end with the
    batch max, regressing the session backwards and diverging from batch."""
    import time

    from pyspark.sql import functions as F

    from vt_grid_spark.streaming.sessions import sessionize_batch, sessionize_stream

    def mk(rows):
        return spark.createDataFrame(
            [(i, t, u, "x", 1.0, "{}") for i, (u, t) in enumerate(rows)],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string"
        ).withColumn("ts", F.to_timestamp("ts"))

    d = "2024-01-10 "
    batch1 = mk([(1, d + "10:00:00"), (1, d + "10:10:00"),
                 (2, d + "10:00:00"), (2, d + "10:15:00"),
                 (3, d + "10:00:00")])
    # all late events sit ABOVE the post-batch-1 watermark (10:15 - 1h)
    batch2 = mk([(1, d + "09:55:00"), (1, d + "10:20:00"),
                 (2, d + "10:05:00"),
                 (3, d + "09:20:00")])
    sentinel = mk([(999_999, "2024-06-01 00:00:00")])

    src = str(tmp_path / "late_src")
    batch1.coalesce(1).write.parquet(src)
    for extra in (batch2, sentinel):
        time.sleep(1.1)  # file mtime order == microbatch order
        extra.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(batch1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream, gap_s=1200).writeStream
         .outputMode("append").format("memory").queryName("late_sess")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r.user_id, str(r.session_start), str(r.session_end),
            r.n_events, r.sum_value)
           for r in spark.table("late_sess").collect() if r.user_id != 999_999}
    all_events = batch1.unionByName(batch2)
    want = {(r.user_id, str(r.session_start), str(r.session_end),
             r.n_events, r.sum_value)
            for r in sessionize_batch(all_events, gap_s=1200).collect()}
    assert (1, d + "09:55:00", d + "10:20:00", 4, 4.0) in want  # extended back+fwd
    assert (2, d + "10:00:00", d + "10:15:00", 3, 3.0) in want  # late inside span
    assert len([w for w in want if w[0] == 3]) == 2             # split sessions
    assert got == want


def test_stateful_sessionize_checkpoint_restart(spark, tmp_path):
    """Exactly-once across a restart: a first query processes part of the
    input and STOPS; a second query starts from the same checkpoint, sees
    only new files, and the union of both runs' appended output equals the
    batch sessionization — no lost or duplicated sessions."""
    import time

    from pyspark.sql import functions as F

    from vt_grid_spark.streaming.sessions import sessionize_batch, sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    cut = "2024-01-15 00:00:00"
    first, second = (events.where(F.col("ts") < cut),
                     events.where(F.col("ts") >= cut))
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    first.coalesce(1).write.parquet(src)

    def run_once():
        stream = (spark.readStream.schema(events.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (sessionize_stream(stream, gap_s=14400).writeStream
             .outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_once()  # run 1: first half only, then the query STOPS

    time.sleep(1.1)
    second.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    sentinel = spark.createDataFrame([(1,)], "event_id long").select(
        "event_id", F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("ts"),
        F.lit(999_999).alias("user_id"), F.lit("x").alias("event_type"),
        F.lit(0.0).alias("value"), F.lit("{}").alias("props"))
    sentinel.coalesce(1).write.mode("append").parquet(src)

    run_once()  # run 2: resumes from the checkpoint, flushes everything

    got = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
           for r in spark.read.parquet(out).collect() if r.user_id != 999_999}
    want = {(r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
            for r in sessionize_batch(events, gap_s=14400).collect()}
    assert len(want) > 50
    assert got == want


def test_custom_reducer_strategies_agree(spark):
    """The batched mapInPandas reducer == the plain per-cell
    groupBy().applyInPandas form (the reference here) on every cell,
    including cells that span Arrow-batch boundaries (forced tiny
    batches)."""
    import pandas as pd

    from vt_grid_spark.operators.custom_reduce import apply_custom_reducer
    from vt_grid_spark.operators.encode import encode_points
    from vt_grid_spark.sources import pages

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        pts = pages.with_coords(pages.pages_df(spark, 3000)) \
            .withColumn("v", F.length("url").cast("double"))
        enc = encode_points(pts, 8, with_quadkey=False).select("x", "y", "v")

        def fn(pdf: pd.DataFrame, tile) -> dict:
            return {"med": float(pdf["v"].median()),
                    "n": len(pdf), "t": ",".join(str(t) for t in tile)}

        def per_cell(key, pdf):
            x, y = int(key[0]), int(key[1])
            return pd.DataFrame([{"x": x, "y": y, **fn(pdf, (4, x >> 4, y >> 4))}])

        schema = "med double, n long, t string"
        outs = {}
        for strat, df in (
                ("per_cell", enc.groupBy("x", "y").applyInPandas(
                    per_cell, schema=f"x long, y long, {schema}")),
                ("batched", apply_custom_reducer(enc, 8, 4, fn, schema))):
            outs[strat] = {(r.x, r.y): (r.med, r.n, r.t) for r in df.collect()}
        assert outs["batched"] == outs["per_cell"]
        assert len(outs["batched"]) > 100
        # row conservation (with_coords drops coordinate-less pages)
        assert sum(v[1] for v in outs["batched"].values()) == enc.count()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_streaming_dedup_equals_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup == batch first-arrival dedup
    when replays arrive inside the horizon: originals in microbatch 1,
    later-timestamped replays (new doc_ids, same text) in microbatch 2 —
    every replay must be dropped, every original kept exactly once."""
    import time

    from vt_grid_spark.streaming.dedup import dedup_batch, dedup_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .where(F.col("doc_id") < 200) \
        .select("doc_id", "text",
                F.timestamp_seconds(1700000000 + F.col("doc_id")).alias("ts"))
    replays = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("ts"))

    src = str(tmp_path / "docs_stream")
    docs.coalesce(1).write.parquet(src)
    time.sleep(1.1)
    replays.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (dedup_stream(stream, horizon="1 hour").writeStream
         .outputMode("append").format("memory").queryName("dedup_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r.doc_id, r.fp) for r in spark.table("dedup_out").collect()}
    want = {(r.doc_id, r.fp)
            for r in dedup_batch(docs.unionByName(replays)).collect()}
    assert len(want) == 200           # every original, no replay
    assert all(d < 1_000_000 for d, _ in want)
    assert got == want


def test_streaming_dedup_file_source_kill_restart(spark, tmp_path):
    """Abrupt mid-stream kill + restart over a rate-limited FILE source
    (maxFilesPerTrigger=1): query 1 is stopped while source files remain
    unprocessed; query 2 resumes from the same checkpoint and the file
    sink's committed union must hold EXACTLY ONE survivor per fingerprint
    — none lost, none duplicated across the kill (offset log + state
    checkpoint + file-sink metadata give exactly-once).  WHICH holder of
    a fingerprint survives is deliberately not asserted: FileStreamSource
    does not contractually order batches by file write order, so
    first-arrival identity across source files is nondeterministic
    (observed: a later-written replay file processed before an earlier
    original's file)."""
    import time

    from vt_grid_spark.streaming.dedup import dedup_batch, dedup_stream

    base = (spark.read.parquet(f"{SF}/documents.parquet")
            .where(F.col("doc_id") < 200)
            .select("doc_id", "text",
                    F.timestamp_seconds(1700000000 + F.col("doc_id")).alias("ts")))
    src, ckpt, out = (str(tmp_path / p) for p in ("src", "ckpt", "out"))

    # 5 source files: file i holds original group i plus replays (new ids,
    # same text, later ts) of every EARLIER group — originals always land
    # in an earlier file than their replays, so first-arrival == earliest-ts
    all_rows = []
    for i in range(5):
        part = base.where(F.col("doc_id") % 5 == i)
        if i > 0:
            replays = base.where(F.col("doc_id") % 5 < i).select(
                (F.col("doc_id") + 1_000_000 * i).alias("doc_id"), "text",
                (F.col("ts") + F.expr(f"INTERVAL {i} MINUTES")).alias("ts"))
            part = part.unionByName(replays)
        part.coalesce(1).write.mode("append" if i else "error").parquet(src)
        all_rows.append(part)
        time.sleep(0.6)  # distinct mtimes -> stable file order

    def reader():
        return (spark.readStream.schema(base.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    def sink(df):
        return (df.writeStream.outputMode("append").format("parquet")
                .option("path", out).option("checkpointLocation", ckpt))

    # run 1: continuous microbatches, killed after ~2 progress reports
    q = sink(dedup_stream(reader(), horizon="1 hour")).start()
    deadline = time.time() + 120
    while time.time() < deadline and len(q.recentProgress) < 2:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    # run 2: resume from the checkpoint, drain the remaining files
    q2 = sink(dedup_stream(reader(), horizon="1 hour")) \
        .trigger(availableNow=True).start()
    q2.awaitTermination(180)

    everything = all_rows[0]
    for p in all_rows[1:]:
        everything = everything.unionByName(p)
    got = [(r.doc_id, r.fp) for r in spark.read.parquet(out).collect()]
    # legitimate holders of each fingerprint (original + its replays)
    from vt_grid_spark.streaming.dedup import _with_fp
    holders = {}
    for r in _with_fp(everything, "text").select("doc_id", "fp").collect():
        holders.setdefault(r.fp, set()).add(r.doc_id)
    want_fps = {r.fp for r in dedup_batch(everything).collect()}
    assert len(want_fps) == 200
    got_fps = [fp for _, fp in got]
    assert len(got_fps) == len(set(got_fps)) == 200  # exactly-once per fp
    assert set(got_fps) == want_fps                  # none lost
    assert all(d in holders[fp] for d, fp in got)    # every survivor real


def test_streaming_pyramid_maintenance_equals_batch_rebuild(spark, tmp_path,
                                                           monkeypatch):
    """PyramidStreamSink: points arriving as file-source microbatches
    (maxFilesPerTrigger=1 -> first batch bootstraps, later batches fold
    through incremental_update) must leave a pyramid IDENTICAL at every
    level to a one-shot batch build over the union; a replayed
    foreachBatch call must be a no-op (the batch id rides in the
    snapshot publish), and a crash MID-FOLD must leave the published
    pyramid untouched so the replay redoes the fold exactly once."""
    import os

    import pytest

    from vt_grid_spark.operators.pyramid import build_pyramid
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.sources import pages
    from vt_grid_spark.sources.table_io import TableIO
    from vt_grid_spark.streaming.pyramid_sink import (PyramidStreamSink,
                                                      maintain_pyramid)

    pts = (pages.with_coords(pages.pages_df(spark, 1200))
           .withColumn("v", F.length("text").cast("double"))
           .select("lon", "lat", "v"))
    src = str(tmp_path / "src")
    parts = [pts.where(F.pmod(F.xxhash64("lon"), F.lit(3)) == i) for i in range(3)]
    for i, part in enumerate(parts):
        part.coalesce(1).write.mode("append" if i else "error").parquet(src)

    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="sum_v", reducer="sum", field="v")]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=6, minzoom=4,
                                       aggregations=specs)], gridsize=4)

    stream = (spark.readStream.schema(pts.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    root = str(tmp_path / "stream_pyr")
    q = maintain_pyramid(stream, plan, root,
                         checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    io_b = TableIO(str(tmp_path / "batch_pyr"))
    build_pyramid(pts, plan, io_b, resume=False)

    sink = PyramidStreamSink(plan, root)
    io_s = TableIO(root)
    zooms = [cz for _, cz, _ in plan.levels()]

    def level(io, z):
        return {(r.x, r.y): (r.cnt, r.sum_v)
                for r in io.read_level(spark, z).collect()}

    for z in zooms:
        a, b = level(io_s, z), level(io_b, z)
        assert a == b and a, f"zoom {z} diverged"

    # the snapshot records the last batch id; replay of batch 2 is a no-op
    assert TableIO(root, delta_id=2).delta_applied()
    assert not TableIO(root, delta_id=3).delta_applied()
    sink(parts[2], 2)  # foreachBatch retry after the commit
    assert level(io_s, zooms[0]) == level(io_b, zooms[0])

    # crash MID-FOLD: the last level's write fails (a Spark merge or, as
    # here, a tail level) after the others finish, so nothing is
    # published; the retry redoes the fold once and lands exactly the delta
    extra = pts.limit(100)

    def crashing(write):
        def crash_one_level(self, data, zoom, *args, **kwargs):
            if zoom == zooms[-1]:
                raise RuntimeError("injected crash")
            return write(self, data, zoom, *args, **kwargs)
        return crash_one_level

    for name in ("write_level", "write_level_pandas"):
        monkeypatch.setattr(TableIO, name, crashing(getattr(TableIO, name)))
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(extra, 3)
    monkeypatch.undo()
    assert not TableIO(root, delta_id=3).delta_applied()
    for z in zooms:
        assert level(io_s, z) == level(io_b, z), f"zoom {z} changed by a crash"
    sink(extra, 3)
    assert TableIO(root, delta_id=3).delta_applied()
    n_total = sum(c for c, _ in level(io_s, zooms[0]).values())
    n_base = sum(c for c, _ in level(io_b, zooms[0]).values())
    assert n_total == n_base + 100
    # generations the snapshot no longer names (replaced levels and the
    # crashed fold's) are deleted; only the live one remains per level
    for z in zooms:
        assert os.listdir(os.path.join(root, f"zoom={z}")) == \
            [io_s.read_manifest(z)["gen"]]
    # and an empty batch changes nothing
    snapshot = {z: io_s.read_manifest(z) for z in zooms}
    sink(extra.where(F.lit(False)), 4)
    assert {z: io_s.read_manifest(z) for z in zooms} == snapshot
