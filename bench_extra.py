"""Round-6 optimization probes (bench.py is FROZEN for measurement; this
file holds the extra instrumentation the optimization round needs).

Modes:
  python bench_extra.py knn            # isolated knn_cells_200k (bench.py setup):
                                       # walls, each level's (ring, n_q,
                                       # residue, join), result digests
  python bench_extra.py minhash        # stage-by-stage minhash_dup_pairs walls
  python bench_extra.py simhash        # stage-by-stage simhash walls
  python bench_extra.py stages NAME    # noop-time one registered query, labeled

All timings use the noop sink (guide §1.4) and setJobDescription labels
(guide §1.5).  SF from $SPARK_GRAFT_SF_DIR (default sf0.1), cores from
$SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, df_fn, reps=2):
    """df_fn: () -> DataFrame, called INSIDE the timed region so operators
    with eager construction-time jobs (localCheckpoint seams) are charged
    honestly — the same accounting as bench.py's per-query timer."""
    walls = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        _noop(df_fn())
        walls.append(round(time.perf_counter() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"stage": label, "walls": walls}))
    return min(walls)


def knn_probe(spark):
    """The bench.py knn_cells_200k_shufflehash setup, verbatim."""
    import math

    from pyspark.sql import functions as F

    from vt_grid_spark.operators.knn import knn_cells, unpersist_knn
    from vt_grid_spark.sources import pages

    n = pages.n_for_sf_dir(SF_DIR)
    pts = pages.with_coords(pages.pages_df(spark, n))
    knn_pts = pts.select("url", "lon", "lat")
    knn_q = (knn_pts
             .where(~((F.col("lat").between(40.4, 41.0))
                      & (F.col("lon").between(-74.6, -73.4))))
             .select(F.xxhash64("url").alias("qid"),
                     (F.col("lon") + 0.01).alias("lon"),
                     (F.col("lat") + 0.005).alias("lat"))
             .limit(200_000).localCheckpoint())
    knn_z = max(4, round(0.5 * math.log2(max(0.8 * n, 12) / 6)))
    # warm-up: two untimed calls on the timed input, so codegen and the
    # JIT have seen every level plan (query_cell, shuffle_hash) the reps
    # run; after one, the first timed rep was still 1.4-2.1 s slower
    for _ in range(2):
        warm_out = knn_cells(knn_pts, knn_q, 5, z=knn_z, ring=1,
                             broadcast_threshold=10_000)
        _noop(warm_out)
        unpersist_knn(warm_out)
        spark.catalog.clearCache()
    walls, levels, digests = [], [], []
    for _ in range(2):
        spark.sparkContext.setJobDescription("knn_cells_200k")
        stats: dict = {}
        t0 = time.perf_counter()
        out = knn_cells(knn_pts, knn_q, 5, z=knn_z, ring=1,
                        broadcast_threshold=10_000, stats=stats)
        _noop(out)
        walls.append(round(time.perf_counter() - t0, 3))
        # each level's (ring, n_q, residue, join), and an order-free digest
        # of the rows, both taken outside the timed region
        levels.append([[lv["ring"], lv["n_q"], lv["residue"], lv["join"]]
                       for lv in stats["levels"]])
        d = out.selectExpr(
            "count(1) AS n",
            "bit_xor(xxhash64(qid, rank, url, d2)) AS h").first()
        digests.append(f"{d.n}:{d.h}")
        unpersist_knn(out)
        spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"stage": "knn_cells_200k", "z": knn_z, "walls": walls,
                      "levels": levels, "digests": digests}))


def minhash_stages(spark):
    from pyspark.sql import functions as F

    from vt_grid_spark.operators.dedup import (minhash_dup_pairs,
                                               minhash_signatures,
                                               minhash_bands)

    from vt_grid_spark.queries_text import _docs

    docs = _docs(spark, SF_DIR)
    # warm codegen at sf0.001
    d0 = _docs(spark, "/root/testdata/sf0.001")
    _noop(minhash_dup_pairs(d0, threshold=0.7, max_bucket=10_000))
    spark.catalog.clearCache()
    _timed(spark, "mh:signatures", lambda: minhash_signatures(docs))
    _timed(spark, "mh:bands", lambda: minhash_bands(minhash_signatures(docs)))
    _timed(spark, "mh:full_pairs",
           lambda: minhash_dup_pairs(docs, threshold=0.7, max_bucket=10_000))


def simhash_stages(spark):
    from pyspark.sql import functions as F

    from vt_grid_spark.operators.dedup import simhash64, simhash_dup_pairs

    from vt_grid_spark.queries_text import _docs

    docs = _docs(spark, SF_DIR).select("doc_id", "text")
    d0 = _docs(spark, "/root/testdata/sf0.001")
    _noop(simhash64(d0))
    spark.catalog.clearCache()
    _timed(spark, "sh:signatures", lambda: simhash64(docs))
    near = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"))
    exact = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    corpus = docs.unionByName(near).unionByName(exact)
    _timed(spark, "sh:full_pairs", lambda: simhash_dup_pairs(corpus, r=3,
                                                             max_bucket=10_000))


def one_query(spark, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    try:
        _noop(fn(spark, "/root/testdata/sf0.001"))
    except Exception:
        pass
    spark.catalog.clearCache()
    walls = []
    for _ in range(2):
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        _noop(fn(spark, SF_DIR))
        walls.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"stage": name, "walls": walls}))


def main(argv):
    from vt_grid_spark.session import get_spark

    spark = get_spark("vt-grid-bench-extra", cores=CPUS)
    mode = argv[0] if argv else "knn"
    if mode == "knn":
        knn_probe(spark)
    elif mode == "minhash":
        minhash_stages(spark)
    elif mode == "simhash":
        simhash_stages(spark)
    elif mode == "stages":
        for name in argv[1:]:
            one_query(spark, name)
    else:
        raise SystemExit(f"unknown mode {mode}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
