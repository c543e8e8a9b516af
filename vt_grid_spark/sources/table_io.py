"""Zoom-partitioned table IO with per-level manifests (checkpoint/resume).

"Iceberg" as an interface (SURVEY.md §7 g6): this class IS the seam — the
pyramid driver only calls ``write_level`` / ``read_level`` /
``level_complete`` / ``read_manifest`` (+ ``write_level_pandas`` for the
pyramid tail, whose small levels are rolled up in ONE Spark aggregation and
collected, so they are written from the driver without a Spark job per
level).  The default backend is parquet partitioned by
``zoom=<z>`` plus a JSON manifest per level carrying what the north rule
asks for: input lineage, per-partition row counts, and status — so a
killed pyramid build resumes from the last complete zoom.

``CatalogTableIO`` below is the catalog-backed variant: levels are
catalog tables written through the DataFrameWriterV2 and manifests an
append-only journal table (latest row per zoom wins — no deletes needed,
the Iceberg-style commit log shape).  Point it at an Iceberg catalog
(``spark.sql.catalog.<name>`` + the runtime jar, format="iceberg") for
snapshot lineage; against the plain session catalog it degrades to
managed parquet tables with the same contract.  The contract test
(tests/test_pyramid.py) runs it against whatever catalog the session has
and skips cleanly if V2 writes are unsupported.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_clustered(df: DataFrame, n_parts: int) -> DataFrame:
    """The Z-order clustering transform ``write_level(cluster=True)``
    writes through: range-partition + sort by the Morton code of (x, y)
    with an EXPLICIT partition count (``repartitionByRange(n, ...)``
    plans a REPARTITION_BY_NUM exchange, which AQE's coalescer must
    honor — an unsized range exchange on a small level coalesces to ~2
    world-spanning files that cluster nothing).  Factored out so the
    plan gate in tests/test_physical_plans.py asserts the exact
    production plan: one RangePartitioning exchange on the morton
    column, pinned partition count."""
    from vt_grid_spark import functions as vf

    return (df.withColumn("_mz", vf.morton(F.col("x"), F.col("y")))
            .repartitionByRange(n_parts, "_mz")
            .sortWithinPartitions("_mz")
            .drop("_mz"))


class TableIO:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def level_path(self, zoom: int) -> str:
        return os.path.join(self.root, f"zoom={zoom}")

    def manifest_path(self, zoom: int) -> str:
        return os.path.join(self.root, "_manifest", f"z{zoom}.json")

    # -- write ---------------------------------------------------------------
    def write_level(self, df: DataFrame, zoom: int, lineage: dict | None = None,
                    cluster: bool = False,
                    cluster_partitions: int | None = None,
                    stage: bool = False) -> dict:
        """Write one pyramid level; manifest committed AFTER a successful
        write (write-then-commit, so a crash mid-write leaves an incomplete
        level that resume re-runs).

        ``cluster=True`` Z-orders the level on disk: rows are range-
        partitioned and sorted by the Morton code of (x, y), so every
        parquet file covers a compact 2-D footprint and its x AND y
        column stats are narrow — a bbox read then prunes most row
        groups at the scan (the same reason Delta/Iceberg OPTIMIZE
        ZORDER exists).  Costs one extra range shuffle per level write;
        measured footprint shrink in tests/test_zorder.py.
        ``cluster_partitions`` sets the output file count EXPLICITLY
        (default: the session's shuffle partitions) — an unsized
        repartitionByRange lets AQE coalesce a small level down to ~2
        partitions, whose morton intervals span half the world each and
        cluster nothing; at production scale size it for ~128 MB files.

        ``stage=True`` writes to a sibling ``.inprogress`` directory and
        swaps it into place after the job succeeds — for writers whose
        input PLAN reads the level being replaced (incremental_update):
        the write job itself is then the only materialization, instead of
        an eager localCheckpoint followed by a second full write (r6; the
        swap is no less atomic than the overwrite it replaces, and a
        crash mid-swap still leaves the manifest uncommitted, so resume
        re-runs the level)."""
        path = self.level_path(zoom)
        out = df.drop("zoom") if "zoom" in df.columns else df
        if cluster:
            n_parts = cluster_partitions or int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            out = zorder_clustered(out, n_parts)
        if stage:
            import shutil

            tmp_path = path + ".inprogress"
            shutil.rmtree(tmp_path, ignore_errors=True)
            out.write.mode("overwrite").parquet(tmp_path)
            shutil.rmtree(path, ignore_errors=True)
            os.replace(tmp_path, path)
        else:
            out.write.mode("overwrite").parquet(path)

        # per-partition row counts from parquet FOOTERS (driver-side pyarrow
        # metadata read, no Spark job) — a read-back count job per level was
        # the dominant fixed cost of the build at small level sizes
        import pyarrow.parquet as pq

        files = {}
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                files[name] = pq.read_metadata(os.path.join(path, name)).num_rows
        return self._commit_level(zoom, files, lineage, cluster)

    def _commit_level(self, zoom: int, files: dict, lineage: dict | None,
                      clustered: bool) -> dict:
        """Mark a fully written level complete (write-then-commit)."""
        return self._commit_manifest({
            "zoom": zoom,
            "status": "complete",
            "row_count": int(sum(files.values())),
            "files": files,
            "lineage": lineage or {},
            "clustered": bool(clustered),
            "completed_at": time.time(),
        })

    def cluster_level(self, spark: SparkSession, zoom: int,
                      partitions: int | None = None) -> dict:
        """Rewrite one complete level Z-ordered — the engine's OPTIMIZE
        ZORDER: a maintenance post-pass, so builds stay one-shuffle-per-
        level and serving layouts opt in afterwards.  The level is
        materialized via localCheckpoint before the overwrite (Spark
        cannot overwrite a path it is still reading); lineage records the
        rewrite."""
        df = self.read_level(spark, zoom).localCheckpoint()
        man = self.read_manifest(zoom)
        lineage = dict(man.get("lineage", {}))
        lineage["op"] = f"{lineage.get('op', '?')}+zorder"
        return self.write_level(df, zoom, lineage=lineage, cluster=True,
                                cluster_partitions=partitions)

    def amend_manifest(self, zoom: int, **extra) -> dict:
        """Merge extra keys into an existing manifest (same atomic
        write-then-replace as the original commit)."""
        m = self.read_manifest(zoom)
        m.update(extra)
        return self._commit_manifest(m)

    def _commit_manifest(self, manifest: dict) -> dict:
        """Write a manifest to a sibling ``.tmp`` and rename it over the
        old one, so a reader sees the old manifest or the new one, never a
        partial file."""
        path = self.manifest_path(manifest["zoom"])
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
        return manifest

    # -- read / resume ---------------------------------------------------------
    def level_complete(self, zoom: int) -> bool:
        p = self.manifest_path(zoom)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            return json.load(f).get("status") == "complete"

    def read_level(self, spark: SparkSession, zoom: int) -> DataFrame:
        return spark.read.parquet(self.level_path(zoom)).withColumn("zoom", F.lit(zoom))

    def read_manifest(self, zoom: int) -> dict:
        with open(self.manifest_path(zoom)) as f:
            return json.load(f)

    # -- driver-side write of the collected pyramid tail -----------------------
    def write_level_pandas(self, pdf, zoom: int, lineage: dict | None = None) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.level_path(zoom)
        if os.path.exists(path):  # overwrite semantics, same as the Spark path
            import shutil
            shutil.rmtree(path)
        os.makedirs(path)
        fname = "part-00000.parquet"
        out = pdf.drop(columns=["zoom"]) if "zoom" in pdf.columns else pdf
        pq.write_table(pa.Table.from_pandas(out, preserve_index=False),
                       os.path.join(path, fname))
        return self._commit_level(zoom, {fname: int(len(out))}, lineage,
                                  clustered=False)


class CatalogTableIO(TableIO):
    """Catalog-backed TableIO: levels as catalog tables, manifests as an
    append-only journal table (latest row per zoom wins).

    Same four-method contract as the parquet backend; write-then-commit is
    preserved because the manifest row is appended only AFTER the level
    table is fully (re)created.  With ``format="iceberg"`` on a configured
    Iceberg catalog the level write is a snapshot commit and the journal
    rides the same table format; with the default session catalog it
    degrades to managed parquet tables.  ``write_level_pandas`` routes
    through Spark (a catalog has no local files to short-circuit to).

    Upgrading the seam to real Iceberg (no code change, session config
    only — the exact spark-submit flags; pick the runtime artifact that
    matches your Spark minor version):

        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0
        --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
        --conf spark.sql.catalog.vtg=org.apache.iceberg.spark.SparkCatalog
        --conf spark.sql.catalog.vtg.type=hadoop        # or hive / rest
        --conf spark.sql.catalog.vtg.warehouse=s3://bucket/warehouse

    then ``CatalogTableIO(spark, namespace="vtg.vt_grid",
    format="iceberg")`` — level replaces become atomic snapshot commits
    and the manifest journal rides Iceberg's own snapshot lineage.  The
    contract test (tests/test_pyramid.py::test_catalog_tableio_contract)
    runs the identical code path against the session catalog's V2 writer
    on every `pytest tests/` run — no jar, no skip.
    """

    def __init__(self, spark: SparkSession, namespace: str = "vt_grid",
                 prefix: str = "pyramid", format: str = "parquet"):
        # deliberately NOT calling super().__init__ — no filesystem root
        self.spark = spark
        self.namespace = namespace
        self.prefix = prefix
        self.format = format
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")
        self._manifest_tbl = f"{namespace}.{prefix}_manifest"
        if not spark.catalog.tableExists(self._manifest_tbl):
            spark.createDataFrame(
                [], "zoom int, status string, row_count long, manifest string,"
                    " completed_at double"
            ).writeTo(self._manifest_tbl).using(format).create()

    # -- naming ----------------------------------------------------------------
    def level_table(self, zoom: int) -> str:
        return f"{self.namespace}.{self.prefix}_z{zoom}"

    # -- manifest journal --------------------------------------------------------
    def _append_manifest(self, manifest: dict) -> dict:
        row = self.spark.createDataFrame(
            [(int(manifest["zoom"]), manifest["status"],
              int(manifest["row_count"]), json.dumps(manifest, sort_keys=True),
              float(manifest["completed_at"]))],
            "zoom int, status string, row_count long, manifest string,"
            " completed_at double",
        )
        try:
            row.writeTo(self._manifest_tbl).append()
        except Exception:
            # session catalog exposes CTAS-created tables as v1 — the V2
            # append is rejected; the v1 writer appends to the same table
            row.write.mode("append").saveAsTable(self._manifest_tbl)
        return manifest

    def _latest_manifest(self, zoom: int) -> dict | None:
        rows = (self.spark.table(self._manifest_tbl)
                .where(F.col("zoom") == zoom)
                .orderBy(F.col("completed_at").desc())
                .limit(1).collect())
        return json.loads(rows[0].manifest) if rows else None

    # -- the four-method contract -------------------------------------------------
    def write_level(self, df: DataFrame, zoom: int, lineage: dict | None = None) -> dict:
        out = df.drop("zoom") if "zoom" in df.columns else df
        name = self.level_table(zoom)
        try:
            out.writeTo(name).using(self.format).createOrReplace()
        except Exception:
            # the plain V2 session catalog cannot do atomic REPLACE TABLE;
            # degrade to drop+create (non-atomic — an Iceberg catalog does
            # this as one snapshot commit, which is the point of the seam)
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            out.writeTo(name).using(self.format).create()
        n = self.spark.table(name).count()
        manifest = {
            "zoom": zoom,
            "status": "complete",
            "row_count": int(n),
            "table": name,
            "lineage": lineage or {},
            "completed_at": time.time(),
        }
        return self._append_manifest(manifest)

    def amend_manifest(self, zoom: int, **extra) -> dict:
        m = self.read_manifest(zoom)
        m.update(extra)
        m["completed_at"] = time.time()
        return self._append_manifest(m)

    def level_complete(self, zoom: int) -> bool:
        if not self.spark.catalog.tableExists(self.level_table(zoom)):
            return False
        m = self._latest_manifest(zoom)
        return bool(m) and m.get("status") == "complete"

    def read_level(self, spark: SparkSession, zoom: int) -> DataFrame:
        return spark.table(self.level_table(zoom)).withColumn("zoom", F.lit(zoom))

    def read_manifest(self, zoom: int) -> dict:
        m = self._latest_manifest(zoom)
        if m is None:
            raise FileNotFoundError(f"no manifest for zoom {zoom}")
        return m

    # -- driver-side write: no local files behind a catalog — go through Spark --
    def write_level_pandas(self, pdf, zoom: int, lineage: dict | None = None) -> dict:
        out = pdf.drop(columns=["zoom"]) if "zoom" in pdf.columns else pdf
        return self.write_level(self.spark.createDataFrame(out), zoom,
                                lineage=lineage)
