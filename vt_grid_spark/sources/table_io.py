"""Pyramid storage with ONE commit protocol: Iceberg's snapshot-pointer
commit (https://iceberg.apache.org/spec/).

"Iceberg" as an interface (SURVEY.md §7 g6): this class IS the seam and
the only place a pyramid is committed.  The pyramid driver stages levels
with ``write_level`` / ``write_level_pandas`` (the tail, collected as Arrow)
and reads them with ``read_level`` / ``read_manifest`` / ``level_complete``.
Levels store x, y and aggregates; older levels that also store
``quadkey`` still read and fold.

- A level write goes to a fresh *generation*, never over published data;
  its record (lineage, row counts, status, the metrics observed on the
  write) is staged once, after its files are written, in a durable
  *draft*, from which a killed build resumes.  The draft is an
  append-only log: a writer call's first stage writes a header line (the
  draft's base snapshot, whether it resumes, its levels), every later
  stage appends one line with the level's record.  A stage replaces no
  file.
- Each writer call runs in one :meth:`TableIO.commit` and ends with ONE
  publish, its only file rename: the next snapshot, which names every
  live level's generation and record plus the last applied delta id, is
  renamed to a fresh numbered name, ``_snapshot.<id>.json``.  No rename
  targets an existing file.  Lower-numbered snapshots, generations the
  snapshot no longer names, and the draft are deleted afterwards.
- Readers see the published snapshot, the highest-numbered one; a writer
  call sees its draft and reads the published snapshot once, when it
  opens.
- A level's record holds its Spark schema, so reading a level infers
  none and starts no Spark job.

So a crash leaves the old pyramid or the new one, never a mix.  On disk:
``<root>/zoom=<z>/<gen>/part-*.parquet`` plus ``_snapshot.<id>.json`` and
``_draft.jsonl``, which the ``_`` hides from Spark and pyarrow readers.  A
root published as ``_snapshot.json``, before snapshots were numbered,
reads as before and is upgraded by its next publish.

``CatalogTableIO`` maps the same protocol onto a catalog: one table per
generation, snapshots and drafts as rows of an append-only journal
table.  Point it at an Iceberg catalog (``spark.sql.catalog.<name>`` +
the runtime jar, format="iceberg") for snapshot lineage; against the
plain session catalog it degrades to managed parquet tables.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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


# a snapshot, its .tmp, or either from before snapshots were numbered
_SNAPSHOT_FILE = re.compile(r"_snapshot(?:\.(\d+))?\.json(?:\.tmp)?")


class TableIO:
    """A pyramid of parquet levels under a local directory.

    The one filesystem assumption: ``root`` is a local POSIX directory,
    where ``os.rename`` of a file is atomic; no hardlinks are needed.  The
    publish renames to a name that does not exist yet: a rename over an
    existing file makes ext4 (``auto_da_alloc``) write the renamed file
    back, and the next such rename waits for that write, tens of ms.  A
    root with a URI scheme (``s3a://``, ``hdfs://``, ``file:``) is
    rejected, since the snapshot is written with ``os``.  The protocol
    covers a killed process; nothing is fsynced, so a power loss can
    still lose writes the page cache held.  Concurrent writers are not
    serialized: of two calls that publish the same snapshot id, the later
    rename wins.

    ``delta_id`` carries the id of the delta this writer applies (a
    stream's batch id): every publish records it as the last applied
    delta, and :meth:`delta_applied` tells a retry that it is done.
    """

    def __init__(self, root: str, delta_id: int | None = None):
        if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", root):
            raise ValueError(
                f"TableIO root must be a local directory, not a URI: {root!r}")
        self.root = root
        self._init_protocol(delta_id)
        os.makedirs(root, exist_ok=True)

    def _init_protocol(self, delta_id: int | None) -> None:
        self.delta_id = delta_id
        self._draft: dict | None = None  # the open writer call's draft
        self._base: dict | None = None  # the snapshot the open call started from
        self._draft_logged = False  # whether the open call has staged yet
        self._lock = threading.Lock()  # stages may come from several threads

    # -- the commit protocol ---------------------------------------------------
    @contextmanager
    def commit(self, start: str = "published"):
        """One writer call: open a draft, run the body, publish the draft.

        ``start`` is what the draft begins as: ``"published"`` the
        published levels; ``"empty"`` no levels (a build that replaces
        the pyramid); ``"resume"`` the draft of a build interrupted since
        the last publish, else the published levels.  A call made inside
        an open draft joins it.  If the body raises, nothing is published
        and readers keep seeing the published snapshot.  The publish
        records ``delta_id`` as the last applied delta unless the snapshot
        already records it (delta ids increase).

        The published snapshot is read once, here: inside the call,
        :meth:`level_complete` and :meth:`read_manifest` read the draft and
        :meth:`delta_applied` the snapshot the call started from."""
        if self._draft is not None:
            yield
            return
        snap = self._published()
        draft = self._load_draft() if start == "resume" else None
        if not (draft and draft["resumable"] and draft["base"] == snap["id"]):
            draft = {"base": snap["id"], "resumable": start != "published",
                     "levels": {} if start == "empty" else dict(snap["levels"])}
        self._draft, self._draft_logged, self._base = draft, False, snap
        try:
            yield
            applied = (self.delta_id if self.delta_id is not None
                       and not self.delta_applied() else snap["applied_delta"])
            published = {"id": snap["id"] + 1, "applied_delta": applied,
                         "levels": draft["levels"]}
            self._store("snapshot", published)
        finally:
            self._draft = self._base = None
        self._collect(published)

    def delta_applied(self) -> bool:
        """Whether the published snapshot (inside a writer call: the one the
        call started from) already records ``delta_id``.  Delta ids
        increase, so every id up to the last applied one counts."""
        applied = (self._base or self._published())["applied_delta"]
        if self.delta_id is None or applied is None:
            return False
        return self.delta_id <= applied

    def _published(self) -> dict:
        return self._load("snapshot") or {"id": 0, "applied_delta": None, "levels": {}}

    def _levels(self) -> dict:
        """The levels this caller sees, keyed by ``str(zoom)`` as in JSON:
        its draft's, else the published."""
        return (self._draft or self._published())["levels"]

    def _stage(self, zoom: int, gen: str, where: dict, lineage: dict | None,
               clustered: bool) -> dict:
        """Stage the record of a fully written level (write-then-stage)."""
        return self._put({"zoom": zoom, "status": "complete", **where, "gen": gen,
                          "lineage": lineage or {}, "clustered": bool(clustered),
                          "completed_at": time.time()})

    def _put(self, record: dict) -> dict:
        with self._lock:
            self._draft["levels"][str(record["zoom"])] = record
            self._log(record)
            self._draft_logged = True
        return dict(record)

    # -- write ---------------------------------------------------------------
    def write_level(self, df: DataFrame, zoom: int, lineage: dict | None = None,
                    cluster: bool = False, cluster_partitions: int | None = None,
                    count_col: str | None = None) -> dict:
        """Write one pyramid level to a fresh generation and stage its
        record, once.

        The record holds ``zoom``, ``gen``, ``status`` ("complete"),
        ``row_count``, where the rows are (``files``, the row count of
        each parquet file; ``table`` on the catalog backend), ``schema``
        (the level's Spark schema, as ``StructType.jsonValue()``),
        ``lineage``, ``clustered`` and ``completed_at``.  With ``count_col`` set it
        also holds ``max_cell_rows``, the largest value of that per-cell
        count column (0 for an empty level), which the hot-key re-salt
        rule reads.  ``row_count`` and ``max_cell_rows`` are observed on
        the level's own write job, so they cost no Spark job.

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

        The input plan may read the level it replaces (a fold, a
        re-cluster): the new generation is another location, so the
        write job is the only materialization."""
        out = df.drop("zoom") if "zoom" in df.columns else df
        if cluster:
            n_parts = cluster_partitions or int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            out = zorder_clustered(out, n_parts)
        metrics = [F.count(F.lit(1)).alias("row_count")]
        if count_col is not None:
            metrics.append(F.max(count_col).alias("max_cell_rows"))
        obs = Observation()
        with self.commit():
            gen = _new_gen()
            where = self._write(out.observe(obs, *metrics), zoom, gen)
            observed = {k: v or 0 for k, v in obs.get.items()}  # empty: max is null
            return self._stage(zoom, gen, {**where, **observed,
                                           "schema": out.schema.jsonValue()},
                               lineage, cluster)

    def write_level_pandas(self, table, zoom: int, lineage: dict | None = None,
                           count_col: str | None = None) -> dict:
        """Driver-side write of one collected tail level, a ``pyarrow.Table``
        (the name is older than the Arrow tail); its record is
        :meth:`write_level`'s."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        with self.commit():
            gen = _new_gen()
            path = self._gen_path(zoom, gen)
            os.makedirs(path)
            fname = "part-00000.parquet"
            pq.write_table(table, os.path.join(path, fname))
            where = {"row_count": table.num_rows, "files": {fname: table.num_rows},
                     "schema": from_arrow_schema(table.schema).jsonValue()}
            if count_col is not None:
                where["max_cell_rows"] = pc.max(table[count_col]).as_py() or 0
            return self._stage(zoom, gen, where, lineage, clustered=False)

    def cluster_level(self, spark: SparkSession, zoom: int,
                      partitions: int | None = None) -> dict:
        """Rewrite one complete level Z-ordered — the engine's OPTIMIZE
        ZORDER: a maintenance post-pass, so builds stay one-shuffle-per-
        level and serving layouts opt in afterwards.  Lineage records the
        rewrite.  The rewrite keeps every row, so the old record's
        ``max_cell_rows`` still holds and carries over (without it the
        next holistic rollup of a resumed build would be salted)."""
        with self.commit():
            old = self.read_manifest(zoom)
            lineage = dict(old.get("lineage", {}))
            lineage["op"] = f"{lineage.get('op', '?')}+zorder"
            record = self.write_level(self.read_level(spark, zoom), zoom,
                                      lineage=lineage, cluster=True,
                                      cluster_partitions=partitions)
            if "max_cell_rows" in old:
                record = self._put({**record, "max_cell_rows": old["max_cell_rows"]})
            return record

    # -- read / resume ---------------------------------------------------------
    def level_complete(self, zoom: int) -> bool:
        return str(zoom) in self._levels()

    def read_manifest(self, zoom: int) -> dict:
        try:
            return dict(self._levels()[str(zoom)])
        except KeyError:
            raise FileNotFoundError(f"no level {zoom}") from None

    def level_path(self, zoom: int) -> str:
        """Directory of the level's generation that this caller sees."""
        return self._gen_path(zoom, self.read_manifest(zoom)["gen"])

    def read_level(self, spark: SparkSession, zoom: int) -> DataFrame:
        """The level's rows plus a literal ``zoom`` column.  The read takes
        the schema from the level's record, so it starts no Spark job; a
        record from before records held one is read by inference (a job)."""
        record = self.read_manifest(zoom)
        reader = spark.read
        if "schema" in record:
            reader = reader.schema(StructType.fromJson(record["schema"]))
        return (reader.parquet(self._gen_path(zoom, record["gen"]))
                .withColumn("zoom", F.lit(zoom)))

    # -- parquet backend storage -------------------------------------------------
    def _gen_path(self, zoom: int, gen: str) -> str:
        return os.path.join(self.root, f"zoom={zoom}", gen)

    def _write(self, out: DataFrame, zoom: int, gen: str) -> dict:
        """Run the level's write job; return where its rows went."""
        # per-file row counts from parquet FOOTERS (driver-side pyarrow
        # metadata read, no Spark job) — a read-back count job per level was
        # the dominant fixed cost of the build at small level sizes
        import pyarrow.parquet as pq

        path = self._gen_path(zoom, gen)
        out.write.parquet(path)
        return {"files": {name: pq.read_metadata(os.path.join(path, name)).num_rows
                          for name in sorted(os.listdir(path))
                          if name.endswith(".parquet")}}

    def _load(self, kind: str) -> dict | None:
        """The highest-numbered ``_<kind>.<id>.json``, else the
        ``_<kind>.json`` from before documents were numbered, else None.
        A document a concurrent publish deletes between the listing and
        the open sends the reader back to the listing, which then shows
        the newer one."""
        numbered = re.compile(rf"_{kind}\.(\d+)\.json")
        while True:
            names = os.listdir(self.root)
            ids = [int(m[1]) for m in map(numbered.fullmatch, names) if m]
            name = f"_{kind}.{max(ids)}.json" if ids else f"_{kind}.json"
            if name not in names:
                return None
            try:
                with open(os.path.join(self.root, name)) as f:
                    return json.load(f)
            except FileNotFoundError:
                continue

    def _log(self, record: dict) -> None:
        """Make the draft, which already holds ``record``, durable: the
        call's first stage writes the log anew with the whole draft as its
        header line, each later stage appends ``record`` as one line.
        Appending renames nothing, so a stage costs no file replace."""
        line, mode = (record, "a") if self._draft_logged else (self._draft, "w")
        with open(os.path.join(self.root, "_draft.jsonl"), mode) as f:
            f.write(json.dumps(line, sort_keys=True) + "\n")

    def _load_draft(self) -> dict | None:
        """Replay the draft log: the header, then each record in order (a
        later record of a zoom replaces an earlier one).  A last line
        without its newline, or one that does not parse, is a torn append:
        it is dropped, so its level is rebuilt like one whose write
        crashed.  A ``_draft.json`` from before the log is not read; the
        call resumes from the published levels."""
        try:
            with open(os.path.join(self.root, "_draft.jsonl")) as f:
                *lines, _torn = f.read().split("\n")  # "" after a whole line
        except FileNotFoundError:
            return None
        draft = None
        for line in lines:
            try:
                doc = json.loads(line)
            except ValueError:
                break
            if draft is None:
                draft = doc
            else:
                draft["levels"][str(doc["zoom"])] = doc
        return draft

    def _store(self, kind: str, doc: dict) -> None:
        """Write ``doc`` to a ``.tmp`` file and rename that to the fresh
        name ``_<kind>.<id>.json``: a reader sees the old document or the
        new one, and the rename replaces no file."""
        path = os.path.join(self.root, f"_{kind}.{doc['id']}.json")
        with open(path + ".tmp", "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        os.rename(path + ".tmp", path)

    def _collect(self, snapshot: dict) -> None:
        """After a publish: delete the snapshots numbered below it (and
        the ``_snapshot.json`` from before numbering, and what crashed
        publishes left in ``.tmp`` files), every generation the snapshot
        does not name (replaced levels and what crashed writers left) and
        the draft, in the log and in the one-document form before it."""
        levels = snapshot["levels"]
        for name in os.listdir(self.root):
            m = _SNAPSHOT_FILE.fullmatch(name)
            if m and (m[1] is None or int(m[1]) < snapshot["id"]):
                os.remove(os.path.join(self.root, name))
            elif name.startswith("zoom="):
                live = levels.get(name[5:], {}).get("gen")
                level_dir = os.path.join(self.root, name)
                if live is None:
                    shutil.rmtree(level_dir)
                    continue
                for gen in os.listdir(level_dir):
                    path = os.path.join(level_dir, gen)
                    if gen == live:
                        continue
                    if os.path.isdir(path):
                        shutil.rmtree(path)
                    else:  # a level file of the flat layout before generations
                        os.remove(path)
        for name in ("_draft.jsonl", "_draft.json"):
            try:
                os.remove(os.path.join(self.root, name))
            except FileNotFoundError:
                pass


def _new_gen() -> str:
    return f"g{uuid.uuid4().hex[:12]}"


class CatalogTableIO(TableIO):
    """Catalog-backed TableIO: each level generation is a table
    ``<prefix>_z<zoom>_<gen>``, and snapshots and drafts are rows of the
    append-only journal ``<prefix>_journal`` (the latest row of each kind
    wins), so every publish appends one snapshot row.  ``write_level_pandas``
    hands its Arrow table to ``spark.createDataFrame``.

    Upgrading the seam to real Iceberg (no code change, session config
    only — the exact spark-submit flags; pick the runtime artifact that
    matches your Spark minor version):

        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0
        --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
        --conf spark.sql.catalog.vtg=org.apache.iceberg.spark.SparkCatalog
        --conf spark.sql.catalog.vtg.type=hadoop        # or hive / rest
        --conf spark.sql.catalog.vtg.warehouse=s3://bucket/warehouse

    then ``CatalogTableIO(spark, namespace="vtg.vt_grid",
    format="iceberg")``.  The contract test
    (tests/test_pyramid.py::test_catalog_tableio_contract) runs the
    identical code path against the session catalog's V2 writer on every
    `pytest tests/` run — no jar, no skip.
    """

    _JOURNAL_SCHEMA = "kind string, body string, committed_at double"

    def __init__(self, spark: SparkSession, namespace: str = "vt_grid",
                 prefix: str = "pyramid", format: str = "parquet",
                 delta_id: int | None = None):
        # deliberately NOT calling super().__init__ — no filesystem root
        self.spark = spark
        self.namespace = namespace
        self.prefix = prefix
        self.format = format
        self._init_protocol(delta_id)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")
        self._journal = f"{namespace}.{prefix}_journal"
        if not spark.catalog.tableExists(self._journal):
            spark.createDataFrame([], self._JOURNAL_SCHEMA) \
                .writeTo(self._journal).using(format).create()

    def level_table(self, zoom: int) -> str:
        """Table of the level's generation that this caller sees."""
        return self._table(zoom, self.read_manifest(zoom)["gen"])

    def read_level(self, spark: SparkSession, zoom: int) -> DataFrame:
        return spark.table(self.level_table(zoom)).withColumn("zoom", F.lit(zoom))

    def write_level_pandas(self, table, zoom: int, lineage: dict | None = None,
                           count_col: str | None = None) -> dict:
        return self.write_level(self.spark.createDataFrame(table), zoom,
                                lineage=lineage, count_col=count_col)

    # -- catalog storage -----------------------------------------------------------
    def _table(self, zoom: int, gen: str) -> str:
        return f"{self.namespace}.{self.prefix}_z{zoom}_{gen}"

    def _write(self, out: DataFrame, zoom: int, gen: str) -> dict:
        name = self._table(zoom, gen)
        out.writeTo(name).using(self.format).create()
        return {"table": name}

    def _load(self, kind: str) -> dict | None:
        rows = (self.spark.table(self._journal)
                .where(F.col("kind") == kind)
                .orderBy(F.col("committed_at").desc())
                .limit(1).collect())
        return json.loads(rows[0].body) if rows else None

    def _log(self, record: dict) -> None:
        self._store("draft", self._draft)  # the journal is append-only already

    def _load_draft(self) -> dict | None:
        return self._load("draft")

    def _store(self, kind: str, doc: dict) -> None:
        row = self.spark.createDataFrame(
            [(kind, json.dumps(doc, sort_keys=True), time.time())],
            self._JOURNAL_SCHEMA)
        try:
            row.writeTo(self._journal).append()
        except Exception:
            # session catalog exposes CTAS-created tables as v1 — the V2
            # append is rejected; the v1 writer appends to the same table
            row.write.mode("append").saveAsTable(self._journal)

    def _collect(self, snapshot: dict) -> None:
        live = {self._table(r["zoom"], r["gen"]).lower()
                for r in snapshot["levels"].values()}
        level = re.compile(rf"{re.escape(self.prefix.lower())}_z\d+_g[0-9a-f]+")
        for t in self.spark.catalog.listTables(self.namespace):
            name = f"{self.namespace}.{t.name}".lower()
            if level.fullmatch(t.name.lower()) and name not in live:
                self.spark.sql(f"DROP TABLE IF EXISTS {name}")
