"""Snapshot checkpointing + per-partition lineage manifest.

North rule: the job "writes per-partition lineage and span-count/
throughput metrics to an Iceberg manifest table, and resumes idempotently
from the last committed snapshot checkpoint". The sandbox image has no
Iceberg jars, so snapshots default to the directory model below; on a
cluster with the Iceberg runtime configured, pass
`SnapshotWriter(..., catalog_table="cat.db.extracted")` to commit via
the DataFrameWriterV2 `writeTo()` appends instead (gated by
iceberg_available — the flag raises immediately when the jar is
missing). Either way snapshots are modeled the way Iceberg models them:
an append-only set of immutable data files plus a small committed
manifest that is the source of truth. A snapshot is visible iff its
manifest commit file exists; data written without a manifest commit is
invisible and re-done on resume — which is exactly idempotent resume.

Layout:
    <root>/data/snapshot=<id>/part-*.parquet     output spans
    <root>/manifest/snapshot=<id>/part-*.parquet lineage+metrics rows
    <root>/_commits/<id>                         commit marker (atomic)

The committed doc_ids are the `doc_id` column of the data snapshots;
parquet column pruning reads only that column's bytes, so no side table
duplicates it. A root written with an older layout may also hold a
`docids/` directory; nothing reads it. Every read of a file the writer
wrote passes the schema it wrote, so neither a commit nor a resume runs
a parquet schema-inference job.

Reference analog: periodic torch.save checkpoints (crnn_main.py:232-235)
and the LMDB writer's 1000-row buffered txns (tolmdb.py:66-68) — here
commit granularity is a doc_id range batch.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs_ls(path: str) -> list[str]:
    try:
        return sorted(os.listdir(path))
    except FileNotFoundError:
        return []


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
    # a crash between the tmp write and os.rename leaves "<sid>.tmp" in
    # _commits — an UNcommitted attempt that must not read as a snapshot
    return [s for s in _fs_ls(os.path.join(root, "_commits")) if not s.endswith(".tmp")]


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


class _CatalogIO:
    """Side-effect seam for the Iceberg leg: every catalog read/write the
    SnapshotWriter performs goes through these five calls, so the commit
    protocol (ordering, idempotence, resume) is unit-testable with a
    fake — the sandbox has no Iceberg runtime to run the real thing.
    All tables are partitioned by snapshot_id, so per-sid reads prune to
    one partition instead of scanning every historical snapshot."""

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


class SnapshotWriter:
    """Checkpointed extraction runner: process only not-yet-committed
    documents, write data + manifest, then commit atomically.

    catalog_table: opt-in Iceberg mode — data/manifest land in
    `<catalog_table>` / `<catalog_table>_manifest` via DataFrameWriterV2
    (both partitioned by snapshot_id). The MANIFEST write is last and is
    the visibility point, exactly like the directory model's marker file: a snapshot is
    committed iff its sid appears in the manifest table, so resume
    (processed_doc_ids/read_committed) filters every read to
    manifest-committed sids and orphan data rows from a mid-commit crash
    stay invisible; the retry overwrites that sid's partitions
    idempotently. Constructing with a catalog_table while the Iceberg
    jar or the named catalog's spark.sql.catalog config is absent raises
    immediately with the directory-model fallback named, instead of
    failing mid-job."""

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
        if catalog_table is not None and catalog_io is None:
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
        self._io = catalog_io or _CatalogIO(spark)

    # -- catalog-mode internals -------------------------------------------

    def _committed_sids_catalog(self) -> list[str]:
        """Snapshot ids whose manifest append (the visibility point)
        completed — the catalog twin of committed_snapshots()."""
        name = f"{self.catalog_table}_manifest"
        if not self._io.exists(name):
            return []
        return sorted(
            r["snapshot_id"]
            for r in self._io.read(name).select("snapshot_id").distinct().collect()
        )

    def _manifest_stats_catalog(self, sid: str) -> dict:
        rows = (
            self._io.read(f"{self.catalog_table}_manifest")
            .filter(F.col("snapshot_id") == sid)
            .collect()
        )
        return {r["partition_id"]: (r["doc_count"], r["span_count"]) for r in rows}

    def _write_snapshot_table(self, df: DataFrame, name: str, sid: str) -> None:
        if not self._io.exists(name):
            self._io.create_partitioned(df, name)
        else:
            self._io.overwrite_snapshot(df, name, sid)

    def _commit_iceberg(self, extracted: DataFrame, sid: str) -> dict:
        """Catalog leg of commit(): data, then the manifest LAST.
        Each write replaces only this sid's partition (idempotent retry);
        the manifest append makes the snapshot visible. The manifest is
        computed from a read-back of the just-written data partition
        (snapshot_id partition pruning — never a scan of prior
        snapshots), mirroring the directory leg's written-files stats."""
        t0 = time.perf_counter()
        data = extracted.withColumn("snapshot_id", F.lit(sid))
        self._write_snapshot_table(data, self.catalog_table, sid)
        written = self._io.read(self.catalog_table).filter(F.col("snapshot_id") == sid)
        wall = time.perf_counter() - t0
        manifest = (
            partition_manifest(written.drop("snapshot_id"))
            .withColumn("wall_time_sec", F.lit(round(wall, 3)))
            .withColumn("snapshot_id", F.lit(sid))
        )
        self._write_snapshot_table(manifest, f"{self.catalog_table}_manifest", sid)
        return {"snapshot_id": sid, "partitions": self._manifest_stats_catalog(sid)}

    # ---------------------------------------------------------------------

    def processed_doc_ids(self) -> DataFrame | None:
        """doc_ids of the committed snapshots: the `doc_id` column of
        their data, which column pruning reads alone. Not de-duplicated:
        each doc commits once, and the left-anti join in pending() needs
        no distinct side anyway. At 10^12 docs the manifest's doc_id
        ranges would replace this; here doc granularity keeps tests
        exact."""
        if self.catalog_table is not None:
            sids = self._committed_sids_catalog()
            if not sids:
                return None
            return (
                self._io.read(self.catalog_table)
                .filter(F.col("snapshot_id").isin(sids))
                .select("doc_id")
            )
        paths = self._committed_paths("data")
        if not paths:
            return None
        return self.spark.read.schema("doc_id string").parquet(*paths)

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
        """Write data + manifest for this snapshot, then drop the
        commit marker LAST (atomic visibility point). Committing an
        already-committed sid is a NO-OP returning the existing stats —
        exactly-once semantics for replayed micro-batch epochs; writing
        over a visible snapshot's files would break immutability (the
        marker would remain while the data dir is half-rewritten)."""
        if self.catalog_table is not None:
            sids = self._committed_sids_catalog()
            sid = snapshot_id or next_free_sid(sids)
            if sid in sids:  # replayed epoch: exactly-once no-op
                return {
                    "snapshot_id": sid,
                    "partitions": self._manifest_stats_catalog(sid),
                    "replayed": True,
                }
            return self._commit_iceberg(extracted, sid)
        sid = snapshot_id or next_free_sid(committed_snapshots(self.root))
        if os.path.exists(os.path.join(self.root, "_commits", sid)):
            existing = self.spark.read.parquet(
                os.path.join(self.root, "manifest", f"snapshot={sid}")
            )
            stats = {
                r["partition_id"]: (r["doc_count"], r["span_count"])
                for r in existing.collect()
            }
            return {"snapshot_id": sid, "partitions": stats, "replayed": True}
        t0 = time.perf_counter()
        data_path = os.path.join(self.root, "data", f"snapshot={sid}")
        extracted.write.mode("overwrite").parquet(data_path)
        # every read-back passes the schema just written: no inference job
        written = self.spark.read.schema(extracted.schema).parquet(data_path)
        wall = time.perf_counter() - t0
        manifest = partition_manifest(written).withColumn(
            "wall_time_sec", F.lit(round(wall, 3))
        )
        manifest_path = os.path.join(self.root, "manifest", f"snapshot={sid}")
        manifest.write.mode("overwrite").parquet(manifest_path)
        os.makedirs(os.path.join(self.root, "_commits"), exist_ok=True)
        marker = os.path.join(self.root, "_commits", sid)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(sid)
        os.rename(tmp, marker)  # atomic on POSIX
        # stats from the tiny WRITTEN manifest — re-collecting the lazy
        # `manifest` plan would rescan+reaggregate the whole data dir
        written_manifest = self.spark.read.schema(manifest.schema).parquet(manifest_path)
        stats = {
            r["partition_id"]: (r["doc_count"], r["span_count"])
            for r in written_manifest.collect()
        }
        return {"snapshot_id": sid, "partitions": stats}

    def read_committed(self) -> DataFrame | None:
        if self.catalog_table is not None:
            sids = self._committed_sids_catalog()
            if not sids:
                return None
            return (
                self._io.read(self.catalog_table)
                .filter(F.col("snapshot_id").isin(sids))
                .drop("snapshot_id")
            )
        paths = self._committed_paths("data")
        return self.spark.read.parquet(*paths) if paths else None

    def read_manifest(self) -> DataFrame | None:
        if self.catalog_table is not None:
            sids = self._committed_sids_catalog()
            if not sids:
                return None
            return self._io.read(f"{self.catalog_table}_manifest").filter(
                F.col("snapshot_id").isin(sids)
            )
        paths = self._committed_paths("manifest")
        return self.spark.read.parquet(*paths) if paths else None

    def _committed_paths(self, kind: str) -> list[str]:
        """<root>/<kind>/snapshot=<sid> of every committed sid on disk."""
        paths = [
            os.path.join(self.root, kind, f"snapshot={s}")
            for s in committed_snapshots(self.root)
        ]
        return [p for p in paths if os.path.isdir(p)]
