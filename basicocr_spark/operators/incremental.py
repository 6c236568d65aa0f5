"""Recurring-crawl incremental dedup backed by a committed sketch store.

`docs_incremental_dedup` (queries.py) demonstrates the two-sided
batch x committed join shape, but recomputes the committed side's
fingerprints/signatures from the corpus on every run. This module is the
production loop: each ingest batch commits its dedup SKETCHES
(fingerprints + banded minhash signatures) as an immutable snapshot
through plans/checkpoint.SnapshotDir, the store SnapshotWriter commits
to (marker-last atomic visibility), and the NEXT batch's verdicts join
against the committed sketch tables — the corpus text is never re-read
or re-hashed for dedup after its batch commits. At 10^12 docs the
committed store is the (tiny relative to text) sketch table, partitioned
by snapshot so each crawl round appends one partition and reads pruned
parquet.

Reference analog: the crawl/ingest loop around basicOCR's batch jobs
(docs/yangzhanku/n-gram/language-model.md's batch-counts -> merge cycle).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hash_kernels as HK
from ..plans.checkpoint import SnapshotDir, _markers, next_free_sid, publish


def _queries():
    # lazy: queries.py imports operators lazily too; keeps the band
    # scheme single-sourced without a module-level cycle
    from .. import queries as Q

    return Q


# the sketch tables a snapshot may hold; readers and compact skip absent ones
_TABLES = ("fp", "bands", "kmv", "phash")


class SketchStore:
    """Directory-model committed store for dedup sketches, one snapshot
    per ingested batch, committed through a checkpoint.SnapshotDir.
    Layout under `root`:

        fp/snapshot=<sid>/      (doc_id, fp)          parquet
        bands/snapshot=<sid>/   (doc_id, band, sig)   parquet
        kmv/snapshot=<sid>/     (h)                   parquet
        phash/snapshot=<sid>/   (media_ref, phash)    parquet
        _commits/<sid>          marker file — visibility point
        _compacted/<sid>        tombstone — sid folded into a compaction

    Every table writes BEFORE the marker is published, so a mid-commit
    crash leaves orphan files that every read ignores: readers union only
    marker-committed snapshot dirs. Committing an already-committed sid
    is an exactly-once no-op, same as SnapshotWriter.commit. Tombstones
    keep compacted-away sids recognizable as committed (`is_committed`)
    so a replayed stream epoch whose sketches were folded into a
    compacted snapshot still skips instead of re-running against a store
    that already contains its own rows. The root must be local
    (checkpoint.local_root): on an hdfs:// or s3a:// root every listing
    would come back empty and every batch would verdict 'new'."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.snapshots = SnapshotDir(spark, root)
        self.root = self.snapshots.root

    def committed_snapshots(self) -> list[str]:
        return self.snapshots.committed()

    def superseded_snapshots(self) -> list[str]:
        """Sids folded into a compacted snapshot (tombstoned). Their data
        and markers are gone but their CONTENT is committed — replay
        guards must treat them as committed."""
        return _markers(os.path.join(self.root, "_compacted"))

    def _taken(self) -> set[str]:
        return set(self.committed_snapshots()) | set(self.superseded_snapshots())

    def is_committed(self, sid: str) -> bool:
        """True iff this sid's sketches are visible in the store — either
        live (marker present) or folded into a compaction (tombstone).
        The replay guard for stream epochs: a tombstoned epoch must NOT
        re-run, or it would verdict against a store already containing
        its own sketches and mark every doc a dup."""
        return sid in self._taken()

    def read(self, table: str) -> DataFrame | None:
        """Union of one of `_TABLES` across the committed snapshots, None
        when none has it (a media batch has no fp/bands, an older store
        no kmv)."""
        return self.snapshots.read(table, self.committed_snapshots())

    def _commit(self, tables: dict[str, DataFrame], snapshot_id: str | None) -> dict:
        """Write each table's snapshot, then publish the marker LAST. Auto
        sids dodge tombstoned sids too: a collision with a compacted-away
        sid would read as a replayed epoch and silently discard the new
        batch's sketches."""
        taken = self._taken()
        sid = snapshot_id or next_free_sid(list(taken))
        if sid in taken:  # replayed epoch: exactly-once no-op
            return {"snapshot_id": sid, "replayed": True}
        for table, df in tables.items():
            self.snapshots.write(table, df, sid)
        self.snapshots.publish(sid)
        return {"snapshot_id": sid, "replayed": False}

    def commit_media_batch(
        self, phash_df: DataFrame, snapshot_id: str | None = None
    ) -> dict:
        """Commit a MEDIA batch's perceptual-hash sketches (media_ref,
        phash) as a snapshot — same marker-last visibility and
        exactly-once replay semantics as commit_batch; media and text
        batches share one sid namespace (a media snapshot simply has no
        fp/bands dirs, which readers skip)."""
        return self._commit({"phash": phash_df.select("media_ref", "phash")}, snapshot_id)

    def commit_batch(
        self,
        fp_df: DataFrame,
        banded_df: DataFrame,
        snapshot_id: str | None = None,
        kmv_df: DataFrame | None = None,
    ) -> dict:
        """Write this batch's sketches, then drop the marker LAST.
        `kmv_df` (optional, column `h`) is the batch's k-minimum-values
        distinct-token sketch — committing it makes cross-crawl distinct
        telemetry incremental too (corpus_distinct_estimate)."""
        tables = {
            "fp": fp_df.select("doc_id", "fp"),
            "bands": banded_df.select("doc_id", "band", "sig"),
        }
        if kmv_df is not None:
            tables["kmv"] = kmv_df.select("h")
        return self._commit(tables, snapshot_id)

    def compact(self) -> dict:
        """Merge every committed snapshot into ONE (full-row distinct on
        every table), for read-amplification control on a long-running
        crawl: a year of hourly epochs is ~9k snapshot dirs per read
        otherwise. Order of operations makes every crash window safe:

          1. write the compacted tables under a fresh sid
          2. tombstone every superseded sid in _compacted/ (so replay
             guards keep recognizing those epochs as committed — see
             is_committed; without this, a stream epoch replayed after
             compaction would re-run against a store that already holds
             its own sketches and verdict every doc a dup)
          3. publish the new marker (visibility point)
          4. delete superseded markers, then their data dirs

        A crash between 3 and 4 leaves old + compacted snapshots BOTH
        visible — duplicated sketch rows, which the verdict semantics
        tolerate by construction (the fp store feeds a left-semi join,
        the band join counts DISTINCT committed doc ids); re-running
        compact() afterwards converges. A crash between 2 and 3 leaves
        stale tombstones for still-live markers — harmless, is_committed
        is a union. At 10^12 docs this is the same maintenance story as
        Iceberg's rewrite_data_files."""
        old = self.committed_snapshots()
        if len(old) <= 1:
            return {"snapshot_id": old[0] if old else None, "compacted": 0}
        sid = next_free_sid(list(self._taken()))
        # every table is optional: a media-only store has no fp/bands,
        # a pre-kmv store no kmv — fold whatever is present
        for table in _TABLES:
            df = self.read(table)
            if df is None:
                continue
            df = df.distinct()
            if table == "kmv":
                # KMV union = k smallest of the union — compaction loses nothing
                df = df.orderBy(F.col("h").asc()).limit(_queries().KMV_K)
            self.snapshots.write(table, df, sid)
        for s in old:
            # the tombstone records which snapshot absorbed it
            publish(os.path.join(self.root, "_compacted", s), sid)
        self.snapshots.publish(sid)
        for s in old:
            os.remove(self.snapshots.marker(s))
        for s in old:
            for table in _TABLES:
                shutil.rmtree(self.snapshots.path(table, s), ignore_errors=True)
        return {"snapshot_id": sid, "compacted": len(old)}


def batch_sketches(batch_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ONE fingerprint kernel pass and ONE signature kernel pass over the
    incoming batch: (fp_df, banded_df), both lazily checkpointed — each
    is consumed twice (verdict join + store commit), and the lazy
    localCheckpoint makes the second consumer a cheap re-read instead of
    a second kernel execution over the batch."""
    Q = _queries()
    fp_df = batch_docs.select(
        "doc_id", HK.poly_hash_kernel(F.col("text")).alias("fp")
    ).localCheckpoint(eager=False)
    banded_df = Q._banded_sigs(
        HK.minhash_signatures_df(batch_docs, num_hashes=Q.N_MINHASH, k=3), "doc_id"
    ).localCheckpoint(eager=False)
    return fp_df, banded_df


def batch_kmv_sketch(batch_docs: DataFrame) -> DataFrame:
    """The batch's KMV distinct-token sketch: the KMV_K smallest distinct
    spread token hashes (column `h`), exactly docs_token_kmv_distinct's
    sketch restricted to one batch. KMV sketches union by taking the k
    smallest of the union, so per-batch sketches committed to the store
    merge into the EXACT full-corpus sketch without ever rescanning a
    committed batch's text (corpus_distinct_estimate)."""
    Q = _queries()
    from ..functions import textstats as TS

    toks = batch_docs.select(
        F.explode(TS.tokens(F.col("text"))).alias("word")
    ).distinct()
    spread = (
        F.lit(Q.KMV_MULT) * TS.char_poly_hash(F.col("word")) + F.lit(Q.KMV_ADD)
    ) % F.lit(Q.MINHASH_PRIME)
    return toks.select(spread.alias("h")).distinct().orderBy(F.col("h").asc()).limit(
        Q.KMV_K
    )


def corpus_distinct_estimate(
    store: SketchStore, extra_kmv: DataFrame | None = None
) -> dict:
    """Cross-crawl distinct-token estimate from COMMITTED KMV sketches
    (optionally unioned with an in-flight batch's sketch): the global
    k-min merge reads only the store's tiny kmv parquet — no committed
    batch's corpus text is rescanned. Returns
    {"k", "n_sketch", "est_distinct"}; est = (k-1) * M / h_k, the same
    estimator (and constants) as docs_token_kmv_distinct, so an estimate
    over batches 1..N equals the single-query estimate over their union
    exactly."""
    Q = _queries()
    kmv = store.read("kmv")
    if extra_kmv is not None:
        kmv = extra_kmv if kmv is None else kmv.unionByName(extra_kmv)
    if kmv is None:
        return {"k": Q.KMV_K, "n_sketch": 0, "est_distinct": 0.0}
    kmin = kmv.distinct().orderBy(F.col("h").asc()).limit(Q.KMV_K)
    row = kmin.agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")).collect()[0]  # sanctioned-collect: 1-row sketch aggregate
    n, hk = int(row["n"]), row["hk"]
    if n < Q.KMV_K:
        est = float(n)  # sketch not full: it IS the distinct set
    else:
        est = round((Q.KMV_K - 1) * float(Q.MINHASH_PRIME) / hk, 2)
    return {"k": Q.KMV_K, "n_sketch": n, "est_distinct": est}


def _phash_byte_bands(vals: DataFrame, out: str) -> DataFrame:
    """Explode DISTINCT 64-bit perceptual hashes into 8 byte bands —
    the pigeonhole candidate scheme of queries.hamming_ball_pairs,
    reused here for the incoming x committed two-sided join."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("phash"), 8 * b).bitwiseAND(F.lit(255)).alias("sig"),
            )
            for b in range(8)
        ]
    )
    return vals.select("phash", F.explode(bands).alias("bb")).select(
        F.col("phash").alias(out),
        F.col("bb.band").alias("band"),
        F.col("bb.sig").alias("sig"),
    )


def incremental_media_dedup_batch(
    blobs: DataFrame, store: SketchStore
) -> tuple[DataFrame, DataFrame]:
    """Verdicts for one incoming MEDIA batch against the committed
    perceptual-hash store — the media column's recurring-crawl dedup,
    composing media_dhash with the SketchStore: exact_dup (an identical
    dHash is committed), near_dup_candidate (a committed hash within the
    <= MEDIA_PHASH_HAM_MAX hamming ball), else new. Returns (verdicts,
    phash_df); callers commit the batch's sketches after ingest:

        verdicts, ph = incremental_media_dedup_batch(blobs, store)
        ... ingest the 'new' blobs ...
        store.commit_media_batch(ph)

    Scale shape: both the exact semi-join and the near candidate join
    run over DISTINCT hash VALUES (clone-class collapse — a flood of
    identical frames is one row), the near join is the byte-band
    pigeonhole scheme (exact for the ball, never all-pairs), and the
    committed side is the store's tiny phash parquet — media bytes are
    never re-decoded after their batch commits. Undecodable blobs emit
    no sketch row and no verdict (P1/P2 skip semantics)."""
    from .multimodal import MEDIA_PHASH_HAM_MAX, media_dhash

    phash_df = media_dhash(blobs).localCheckpoint(eager=False)
    com = store.read("phash")
    if com is None:
        verdicts = phash_df.select(
            "media_ref",
            F.lit(0).cast("long").alias("n_near_matches"),
            F.lit("new").alias("verdict"),
        )
        return verdicts, phash_df
    com_vals = com.select("phash").distinct().localCheckpoint(eager=False)
    exact = (
        phash_df.join(com_vals, "phash", "left_semi")
        .select("media_ref")
        .withColumn("is_exact", F.lit(1))
    )
    cand = (
        _phash_byte_bands(phash_df.select("phash").distinct(), "ph_i")
        .join(_phash_byte_bands(com_vals, "ph_c"), ["band", "sig"])
        .select("ph_i", "ph_c")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("ph_i").bitwiseXOR(F.col("ph_c"))).cast("long"),
        )
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= MEDIA_PHASH_HAM_MAX))
    )
    near = (
        cand.groupBy(F.col("ph_i").alias("phash"))
        .agg(F.count(F.lit(1)).alias("n_near_matches"))
    )
    verdict = (
        F.when(F.col("is_exact") == 1, "exact_dup")
        .when(F.col("n_near_matches") > 0, "near_dup_candidate")
        .otherwise("new")
    )
    verdicts = (
        phash_df.join(exact, "media_ref", "left")
        .join(near, "phash", "left")
        .select(
            "media_ref",
            F.coalesce(F.col("n_near_matches"), F.lit(0)).alias("n_near_matches"),
            verdict.alias("verdict"),
        )
    )
    return verdicts, phash_df


def incremental_dedup_batch(
    batch_docs: DataFrame, store: SketchStore
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Verdicts for one incoming batch against the COMMITTED sketch
    store: returns (verdicts, fp_df, banded_df). Verdict precedence
    exact_dup > near_dup_candidate > new, same as
    queries.docs_incremental_dedup — but the committed side here is the
    store's parquet, not a recomputation of the corpus. Callers commit
    the returned sketches after the batch's ingest succeeds:

        verdicts, fp, bands = incremental_dedup_batch(batch, store)
        ... ingest the 'new' docs ...
        store.commit_batch(fp, bands)

    Scale shape: the only wide ops are the fingerprint semi-join and the
    two-sided band equi-join, both batch x committed (never a corpus
    self-join); with an empty store every verdict is 'new' with zero
    joins."""
    fp_df, banded_df = batch_sketches(batch_docs)
    com_fp, com_bands = store.read("fp"), store.read("bands")
    incoming = fp_df.select("doc_id")
    if com_fp is None or com_bands is None:
        verdicts = incoming.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_band_matches"),
            F.lit("new").alias("verdict"),
        )
        return verdicts, fp_df, banded_df
    exact = (
        fp_df.join(com_fp.select("fp").distinct(), "fp", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(1))
    )
    near = (
        banded_df.alias("i")
        .join(com_bands.alias("c"), ["band", "sig"])
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.countDistinct(F.col("c.doc_id")).alias("n_band_matches"))
    )
    verdict = (
        F.when(F.col("is_exact") == 1, "exact_dup")
        .when(F.col("n_band_matches") > 0, "near_dup_candidate")
        .otherwise("new")
    )
    verdicts = (
        incoming.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_band_matches"), F.lit(0)).alias("n_band_matches"),
            verdict.alias("verdict"),
        )
    )
    return verdicts, fp_df, banded_df
