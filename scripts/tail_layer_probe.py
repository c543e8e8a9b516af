"""Layer split of the headline pyramid build: build wall and tail layer.

Builds ``bench.py``'s headline pyramid (count + sum over the page corpus,
cell zoom 12 -> 0) several times in one session and prints one JSON line
per build with its wall and its tail layer.  The tail layer is the time
spent in ``pyramid._write_tail``, which derives the small upper levels
from the last Spark level: the read of that level, the per-level
aggregation and the writes.  ``writes_s`` is the part of it spent inside
``TableIO.write_level_pandas`` (parquet files plus staging each level's
record).  ``spark_jobs`` is the number of Spark jobs the build started,
from the status tracker's job ids before and after it.  ``spark_levels``
is the number of levels written by Spark (not by the tail), and
``spark_level_files`` the file count of each, from the base level up.

    python scripts/tail_layer_probe.py [--builds 7] [--src DIR] [--dir DIR]
                                       [--small-level-rows N]

``--dir`` is where the pyramids are built (default ``/dev/shm``, a tmpfs
where file renames are cheap; a disk directory shows what they cost there).

``--src`` imports ``vt_grid_spark`` from another checkout, so two trees are
compared with one script.  ``--small-level-rows`` sets
``pyramid.SMALL_LEVEL_ROWS`` for the run: a lower value makes more levels
Spark levels (at sf0.1, 20000 gives 6).  The first builds still JIT-warm
on a few cores: compare the median of builds 4-7, in alternating fresh
processes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--builds", type=int, default=7)
    ap.add_argument("--src", default=ROOT)
    ap.add_argument("--dir", default="/dev/shm" if os.path.isdir("/dev/shm") else None)
    ap.add_argument("--small-level-rows", type=int)
    args = ap.parse_args(argv)
    sys.path.insert(0, args.src)

    from pyspark.sql import functions as F

    from vt_grid_spark.operators import pyramid
    from vt_grid_spark.plans.aggspec import AggSpec
    from vt_grid_spark.plans.pyramid_plan import PyramidPlan, ZoomBand
    from vt_grid_spark.session import get_spark
    from vt_grid_spark.sources import pages
    from vt_grid_spark.sources.table_io import TableIO

    marks: dict = {}
    tail, write = pyramid._write_tail, TableIO.write_level_pandas

    def timed(fn, mark):
        def run(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                marks[mark] = marks.get(mark, 0.0) + time.perf_counter() - t
        return run

    pyramid._write_tail = timed(tail, "tail")
    TableIO.write_level_pandas = timed(write, "writes")
    if args.small_level_rows is not None:
        pyramid.SMALL_LEVEL_ROWS = args.small_level_rows

    spark = get_spark("tail-layer-probe", cores=CPUS)
    pts = pages.with_coords(pages.pages_df(spark, pages.n_for_sf_dir(SF_DIR)))
    pts = pts.withColumn("v", F.length("text").cast("double"))
    specs = [AggSpec(out="cnt", reducer="count"),
             AggSpec(out="sum_v", reducer="sum", field="v")]
    plan = PyramidPlan(bands=[ZoomBand(basezoom=13, minzoom=0, aggregations=specs)],
                       gridsize=1, salt_buckets=16)
    pts.count()  # input generation outside the timed builds
    for i in range(1, args.builds + 1):
        out_dir = tempfile.mkdtemp(prefix="vtgrid_tail_", dir=args.dir)
        marks.clear()
        before = _job_ids(spark)
        try:
            t0 = time.perf_counter()
            man = pyramid.build_pyramid(pts, plan, TableIO(out_dir), resume=False)
            wall = time.perf_counter() - t0
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        files = [len(man[z]["files"]) for z in sorted(man, reverse=True)
                 if man[z]["lineage"]["op"] != "rollup-small"]
        print(json.dumps({"build": i, "wall_s": round(wall, 3),
                          "tail_s": round(marks["tail"], 3),
                          "writes_s": round(marks["writes"], 3),
                          "spark_jobs": len(_job_ids(spark) - before),
                          "spark_levels": len(files),
                          "spark_level_files": files}), flush=True)
    spark.stop()
    return 0


def _job_ids(spark) -> set:
    """Ids of every job the session has started, read once a fence job is
    visible: the status tracker is fed asynchronously, in job order.  The
    fence runs in a job group of its own, so it is not among the ids."""
    sc, group = spark.sparkContext, "tail-layer-probe-fence"
    fences = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(1000):
        if len(sc.statusTracker().getJobIdsForGroup(group)) > fences:
            break
        time.sleep(0.01)
    return set(sc.statusTracker().getJobIdsForGroup(None))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
