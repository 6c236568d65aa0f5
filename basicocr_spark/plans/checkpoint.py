"""Snapshot checkpointing + per-partition lineage manifest.

North rule: the job "writes per-partition lineage and span-count/
throughput metrics to an Iceberg manifest table, and resumes idempotently
from the last committed snapshot checkpoint". Snapshots are modeled the
way Iceberg models them: immutable data files plus a small manifest, and
a snapshot is visible only once published. Data written without its
publish is invisible and re-done on resume: idempotent resume.

One commit protocol over two stores. `SnapshotWriter.commit` runs the
replay check (a committed sid is a no-op), the data write, the
read-back, the manifest write, the publish, and the stats read from the
written manifest. A store has four operations, none taking a schema:
`committed()`, `write(table, df, sid)`, `read(table, sids)`, `publish(sid)`.

- `SnapshotDir` (default; the sandbox image has no Iceberg jars), under a
  local root (`local_root`):
      <root>/data/snapshot=<sid>/part-*.parquet      output spans
      <root>/manifest/snapshot=<sid>/part-*.parquet  lineage+metrics rows
      <root>/_commits/<sid>                          commit marker
  `publish(sid)` drops the marker via `publish(path, text)` (tmp write,
  then rename); a snapshot is visible iff its marker exists. A table's
  schema is the one Spark keeps in its parquet footers: `read` takes it
  from the first snapshot holding the table (no inference job), and
  `write` rejects a frame whose field names or types differ from the
  committed snapshots' (an unpublished attempt's files never count).
- `_CatalogSnapshots` (`catalog_table="cat.db.extracted"`, Iceberg
  runtime configured): DataFrameWriterV2 tables `<name>` and
  `<name>_manifest`, partitioned by snapshot_id. The manifest write is
  the visibility point, so `publish` does nothing. Each table enforces
  its own schema.

`operators/incremental.SketchStore` commits its sketch tables (fp, bands,
kmv, phash) through a `SnapshotDir` and writes its compaction tombstones
with `publish`.

The committed doc_ids are the `doc_id` column of the data snapshots
(column pruning reads only it; an older root's `docids/` dir is unread).

Reference analog: periodic torch.save checkpoints (crnn_main.py:232-235)
and the LMDB writer's 1000-row buffered txns (tolmdb.py:66-68) — here
commit granularity is a doc_id range batch.
"""

from __future__ import annotations

import json
import os
import time
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _markers(path: str) -> list[str]:
    """Sorted names of the marker files under `path`. A crash between the
    tmp write and the rename in `publish` leaves "<name>.tmp": an
    uncommitted attempt that must not read as a marker."""
    try:
        return sorted(s for s in os.listdir(path) if not s.endswith(".tmp"))
    except FileNotFoundError:
        return []


def publish(path: str, text: str) -> None:
    """Create `path` holding `text` atomically: a reader sees either no
    file or the whole one. The rename is atomic on POSIX."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def local_root(root: str) -> str:
    """The local path of a snapshot-store root: a `file://` URI unwrapped
    and unquoted, a plain path as given. Any other scheme raises: the
    directory model lists and marks through the local filesystem, so on
    an hdfs://, s3a://, ... root every listing would come back empty and
    every run would silently redo (or re-verdict) everything."""
    if "://" not in root:
        return root
    scheme, _, rest = root.partition("://")
    if scheme != "file":
        raise ValueError(
            f"snapshot stores require a local filesystem root; got scheme "
            f"{scheme!r}. Use an Iceberg/object-store-backed store for "
            f"non-local roots."
        )
    path = unquote(rest)
    return path if path.startswith("/") else "/" + path


def iceberg_available(spark: SparkSession) -> bool | None:
    """True/False iff the Iceberg runtime jar is provably on/off the
    session's classpath; None when it cannot be probed (Spark Connect
    sessions expose no _jvm — there the catalog CONFIG check below is
    the only signal, and a configured catalog must not be spuriously
    rejected). The sandbox image ships without the jar, so the
    directory snapshot model is the default."""
    try:
        jvm = spark._jvm
        if jvm is None:
            return None
    except Exception:
        return None  # Spark Connect: jar presence is unknowable driver-side
    try:
        # Resolve through the thread context classloader: jars supplied
        # via --packages/spark.jars land in Spark's child
        # MutableURLClassLoader, which the single-arg Class.forName
        # (resolving against py4j's defining classloader) cannot see —
        # that probe returns False on a correctly configured session.
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        if loader is None:
            return None
        loader.loadClass("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception as e:
        # Only a genuine ClassNotFoundException is "provably absent";
        # any other py4j/JVM hiccup is unknowable and must not veto a
        # configured catalog (SnapshotWriter treats None as advisory).
        java_exc = getattr(e, "java_exception", None)
        try:
            name = java_exc.getClass().getName() if java_exc is not None else ""
        except Exception:
            name = ""
        return False if "ClassNotFoundException" in name else None


def next_free_sid(committed: list[str]) -> str:
    """First auto snapshot id not already committed. len() alone is not
    enough: explicit snapshot_ids (micro-batch epochs) interleaving with
    auto-generated ones can make s{len} collide with a committed sid,
    and a collision reads as a replayed epoch — the new batch would be
    silently discarded."""
    taken = set(committed)
    n = len(taken)
    while f"s{n:06d}" in taken:
        n += 1
    return f"s{n:06d}"


def committed_snapshots(root: str) -> list[str]:
    return _markers(os.path.join(local_root(root), "_commits"))


def partition_manifest(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics over an extracted DataFrame
    (doc_id, spans): doc/span counts, doc_id range, span-kind breakdown.
    Pure aggregation keyed by spark_partition_id — one pass."""
    return (
        extracted.select(
            F.spark_partition_id().alias("partition_id"),
            "doc_id",
            F.size("spans").alias("n_spans"),
            F.size(F.filter("spans", lambda s: s["kind"] == "text")).alias("n_text"),
            F.size(F.filter("spans", lambda s: s["kind"] == "media")).alias("n_media"),
        )
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("n_spans").alias("span_count"),
            F.sum("n_text").alias("text_span_count"),
            F.sum("n_media").alias("media_span_count"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


class SnapshotDir:
    """Directory-model snapshot store: table `t` of snapshot `sid` is the
    parquet dir `<root>/t/snapshot=<sid>`, visible iff the marker
    `<root>/_commits/<sid>` exists."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = local_root(root)

    def path(self, table: str, sid: str) -> str:
        return os.path.join(self.root, table, f"snapshot={sid}")

    def marker(self, sid: str) -> str:
        return os.path.join(self.root, "_commits", sid)

    def committed(self) -> list[str]:
        return committed_snapshots(self.root)

    def _dirs(self, table: str, sids: list[str]) -> list[str]:
        return [p for p in (self.path(table, s) for s in sids) if os.path.isdir(p)]

    def schema(self, table: str, sids: list[str]) -> T.StructType | None:
        """The Spark schema `table` was written with, from a parquet footer
        of the first of `sids` that has it; None when none does. No job."""
        dirs = self._dirs(table, sids)
        if not dirs:
            return None
        part = next(f for f in sorted(os.listdir(dirs[0])) if f.endswith(".parquet"))
        meta = pq.read_schema(os.path.join(dirs[0], part)).metadata
        return T.StructType.fromJson(json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"]))

    def write(self, table: str, df: DataFrame, sid: str) -> None:
        """Raises ValueError, before writing, when `df` differs from the
        committed snapshots of `table` in a field name or type."""
        have = self.schema(table, self.committed())
        if have is not None and have.simpleString() != df.schema.simpleString():
            raise ValueError(
                f"schema drift in {table!r}: committed {have.simpleString()}, "
                f"new {df.schema.simpleString()}"
            )
        df.write.mode("overwrite").parquet(self.path(table, sid))

    def read(self, table: str, sids: list[str]) -> DataFrame | None:
        """Union of `table` over `sids`, None when none of them has it (a
        snapshot may commit only some tables)."""
        schema = self.schema(table, sids)
        if schema is None:
            return None
        return self.spark.read.schema(schema).parquet(*self._dirs(table, sids))

    def publish(self, sid: str) -> None:
        publish(self.marker(sid), sid)


class _CatalogIO:
    """Side-effect seam for the Iceberg store: every catalog read/write
    goes through these four calls, so the commit protocol (ordering,
    idempotence, resume) is unit-testable with a fake — the sandbox has
    no Iceberg runtime to run the real thing. All tables are partitioned
    by snapshot_id, so per-sid reads prune to one partition instead of
    scanning every historical snapshot."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(name)

    def read(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def create_partitioned(self, df: DataFrame, name: str) -> None:
        df.writeTo(name).partitionedBy(F.col("snapshot_id")).create()

    def overwrite_snapshot(self, df: DataFrame, name: str, sid: str) -> None:
        # atomic replace of exactly this snapshot's partition — a retry
        # after a crash mid-commit replaces its own orphan rows instead
        # of appending duplicates
        df.writeTo(name).overwrite(F.col("snapshot_id") == F.lit(sid))


class _CatalogSnapshots:
    """Iceberg-model snapshot store: table "data" is `<table>`, any other
    is `<table>_<name>`, each partitioned by a snapshot_id column that
    reads drop. A snapshot is committed iff its sid has manifest rows, so
    orphan data rows from a mid-commit crash stay invisible and the retry
    overwrites that sid's partitions."""

    def __init__(self, io: _CatalogIO, table: str):
        self.io = io
        self.table = table

    def _name(self, table: str) -> str:
        return self.table if table == "data" else f"{self.table}_{table}"

    def committed(self) -> list[str]:
        name = self._name("manifest")
        if not self.io.exists(name):
            return []
        return sorted(
            r["snapshot_id"]
            for r in self.io.read(name).select("snapshot_id").distinct().collect()
        )

    def write(self, table: str, df: DataFrame, sid: str) -> None:
        name, df = self._name(table), df.withColumn("snapshot_id", F.lit(sid))
        if not self.io.exists(name):
            self.io.create_partitioned(df, name)
        else:
            self.io.overwrite_snapshot(df, name, sid)

    def read(self, table: str, sids: list[str]) -> DataFrame | None:
        name = self._name(table)
        if not sids or not self.io.exists(name):
            return None
        return (
            self.io.read(name).filter(F.col("snapshot_id").isin(sids)).drop("snapshot_id")
        )

    def publish(self, sid: str) -> None:
        """Nothing to do: the manifest write made `sid` visible."""


class SnapshotWriter:
    """Checkpointed extraction runner: process only not-yet-committed
    documents, write data + manifest, then publish the snapshot.

    catalog_table: opt-in Iceberg mode — data/manifest land in
    `<catalog_table>` / `<catalog_table>_manifest` via DataFrameWriterV2
    (see _CatalogSnapshots); otherwise they land under `root` (see
    SnapshotDir), which must be a local path or a file:// URI.
    Constructing with a catalog_table while the Iceberg jar or the named
    catalog's spark.sql.catalog config is absent raises immediately with
    the directory-model fallback named, instead of failing mid-job."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog_table: str | None = None,
        catalog_io: _CatalogIO | None = None,
    ):
        self.spark = spark
        self.root = root
        self.catalog_table = catalog_table
        if catalog_table is None:
            self.store = SnapshotDir(spark, root)
            return
        if catalog_io is None:
            # a 3-part name's first segment is the catalog; 1/2-part
            # names resolve against the session's default catalog
            # (spark.sql.defaultCatalog, itself defaulting to
            # spark_catalog — the standard Iceberg SparkSessionCatalog
            # setup configures spark.sql.catalog.spark_catalog)
            catalog_name = (
                catalog_table.split(".")[0]
                if catalog_table.count(".") >= 2
                else spark.conf.get("spark.sql.defaultCatalog", "spark_catalog")
            )
            configured = (
                spark.conf.get(f"spark.sql.catalog.{catalog_name}", None) is not None
            )
            # jar probe: False = provably absent; None (Spark Connect) =
            # unknowable, so the catalog config alone decides
            if iceberg_available(spark) is False or not configured:
                raise RuntimeError(
                    "SnapshotWriter(catalog_table=...) needs the Iceberg "
                    f"runtime jar AND spark.sql.catalog.{catalog_name} "
                    "configured; this session is missing one or both. Omit "
                    "catalog_table to use the directory snapshot model "
                    "(same commit semantics, local filesystem)."
                )
        self.store = _CatalogSnapshots(catalog_io or _CatalogIO(spark), catalog_table)

    def processed_doc_ids(self) -> DataFrame | None:
        """doc_ids of the committed snapshots: the `doc_id` column of
        their data, which column pruning reads alone. Not de-duplicated:
        each doc commits once, and the left-anti join in pending() needs
        no distinct side anyway. At 10^12 docs the manifest's doc_id
        ranges would replace this; here doc granularity keeps tests
        exact."""
        done = self.store.read("data", self.store.committed())
        return None if done is None else done.select("doc_id")

    def pending(self, docs: DataFrame) -> DataFrame:
        """Anti-join against committed doc_ids — the resume predicate.
        No forced broadcast: the committed set grows with every snapshot
        (a long-running stream would eventually blow the broadcast
        limit), so let AQE pick broadcast-vs-shuffle per actual size; at
        10^12 docs the manifest carries doc_id RANGES and this becomes a
        range-pruning filter instead."""
        done = self.processed_doc_ids()
        if done is None:
            return docs
        return docs.join(done, "doc_id", "left_anti")

    def commit(self, extracted: DataFrame, snapshot_id: str | None = None) -> dict:
        """Write data + manifest for this snapshot, then publish it LAST
        (atomic visibility point). Committing an already-committed sid is
        a NO-OP returning the existing stats — exactly-once semantics for
        replayed micro-batch epochs; writing over a visible snapshot's
        files would break immutability (it would stay visible while its
        data is half-rewritten)."""
        sids = self.store.committed()
        sid = snapshot_id or next_free_sid(sids)
        if sid in sids:
            return {"snapshot_id": sid, "partitions": self._stats(sid), "replayed": True}
        t0 = time.perf_counter()
        self.store.write("data", extracted, sid)
        # the manifest aggregates the WRITTEN data (for the catalog store,
        # one snapshot_id partition — never a scan of prior snapshots)
        written = self.store.read("data", [sid])
        wall = time.perf_counter() - t0
        manifest = partition_manifest(written).withColumn(
            "wall_time_sec", F.lit(round(wall, 3))
        )
        self.store.write("manifest", manifest, sid)
        self.store.publish(sid)
        return {"snapshot_id": sid, "partitions": self._stats(sid)}

    def _stats(self, sid: str) -> dict:
        # from the tiny WRITTEN manifest — re-collecting a lazy manifest
        # plan would rescan+reaggregate the whole data snapshot
        rows = self.store.read("manifest", [sid]).collect()
        return {r["partition_id"]: (r["doc_count"], r["span_count"]) for r in rows}

    def read_committed(self) -> DataFrame | None:
        return self.store.read("data", self.store.committed())

    def read_manifest(self) -> DataFrame | None:
        return self.store.read("manifest", self.store.committed())
