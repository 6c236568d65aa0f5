"""Structured Streaming surface for the extraction engine.

The reference is entirely batch (SURVEY.md §2.8) — its only incremental
behaviors are periodic validate/checkpoint in the training loop
(crnn_main.py:229-235). The batch extraction pipeline is embarrassingly
parallel per document, so it drops into `foreachBatch` unchanged; that
plus a watermarked windowed aggregate (for the events stream) gives the
engine a streaming story without inventing semantics the reference
doesn't have.

- `streaming_extraction(...)`: file-source stream of interleaved docs ->
  per-microbatch fused extraction (one kernel per stream) ->
  snapshot-commit via SnapshotWriter
  (exactly-once through idempotent doc_id-anti-join + atomic commit).
- `windowed_event_counts(...)`: watermark + tumbling-window agg, the
  canonical late-data-tolerant rollup.
- `streaming_incremental_dedup(...)`: the recurring-crawl loop as a
  stream — per-microbatch dedup verdicts against the committed
  SketchStore, sketches committed per epoch so later batches see them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas as S
from ..operators.extraction import EXTRACTED_SPAN_SCHEMA, fused_arrow_kernel
from ..plans.checkpoint import SnapshotWriter, publish


def streaming_extraction(
    spark: SparkSession,
    input_dir: str,
    ckpt_root: str,
    logits_rows: list[tuple],
    dict_lines: list[str],
    stop_terms: list[str],
    stream_checkpoint_dir: str,
):
    """readStream over a parquet directory of interleaved documents;
    each microbatch runs the fused pipeline and snapshot-commits. The
    doc_id anti-join inside `pending` makes redelivered batches no-ops,
    so end-to-end semantics stay exactly-once even on replay. The kernel
    is built once per stream, so worker memos carry across micro-batches;
    its broadcasts live as long as the driver."""
    writer = SnapshotWriter(spark, ckpt_root)
    kernel, _ = fused_arrow_kernel(spark.sparkContext, logits_rows, dict_lines, stop_terms)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        pending = writer.pending(batch_df)
        if pending.isEmpty():
            return
        out = pending.mapInArrow(kernel, EXTRACTED_SPAN_SCHEMA)
        writer.commit(out, snapshot_id=f"epoch{epoch_id:06d}")

    stream = (
        spark.readStream.schema(S.DOCUMENTS)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("update")
        .start()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type.

    Event time must be TIMESTAMP (not NTZ) for watermarking; with the
    session pinned to UTC the cast is instant-preserving."""
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def deduped_doc_stream(
    docs_stream: DataFrame,
    watermark: str = "1 hour",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Streaming dedup — the incremental sibling of docs_dedup_exact:
    fingerprint each document's canonical span content and drop
    duplicate fingerprints via dropDuplicatesWithinWatermark, so state
    for a fingerprint is held only one watermark interval instead of
    forever (unbounded dropDuplicates state is the classic
    streaming-dedup OOM at crawl scale — a 10^12-doc crawl revisits
    pages for days, not forever).

    Content canonicalization is to_json(spans): kind/text/media_ref all
    participate with JSON escaping, so a text span 'm01' can never
    collide with a media span referencing m01, null fields are encoded
    (not silently skipped), and no in-band separator can be injected by
    document content. The dedup key pairs a 64-bit xxhash with the
    dedup family's polynomial hash (~2^94 joint space; collision odds
    are negligible at crawl scale, unlike a single 2^30 poly hash) —
    engine-specific hashes are fine here because streaming has no
    DuckDB oracle leg. Input: interleaved (doc_id, spans, event_ts)
    stream; event_ts must be the ingestion event time for watermark
    semantics."""
    from ..functions.hash_kernels import poly_hash_kernel

    content = F.to_json(F.col("spans"))
    fp = (
        docs_stream.withColumn("event_ts", F.col("event_ts").cast("timestamp"))
        # poly half via the Arrow kernel (the Catalyst per-char fold
        # evaluates interpreted — hash_kernels.py docstring); xxhash64
        # stays native JVM. Same Arrow projection family as the batch
        # fingerprint, pinned to the expression form by test_hash_kernels.
        .withColumn(fingerprint_col, poly_hash_kernel(content))
        .withColumn("fingerprint_xx", F.xxhash64(content))
    )
    return fp.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        [fingerprint_col, "fingerprint_xx"]
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    sketch_root: str,
    verdicts_root: str,
    stream_checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """The streaming form of the recurring-crawl dedup loop: a file
    source of flat documents (doc_id, text, ...) where every microbatch
    is verdicted against the COMMITTED SketchStore (exact fingerprint
    semi-join + two-sided band join — batch x committed, never a corpus
    self-join), verdicts land partitioned by epoch, and the batch's own
    sketches commit as snapshot `epoch{N}` so the NEXT microbatch sees
    them. Unlike deduped_doc_stream's watermark-bounded state, the
    sketch store IS the dedup state — durable, unbounded in coverage,
    and bounded in size (sketches, not text).

    Exactly-once on replay: a redelivered epoch whose sketch snapshot is
    already committed is skipped outright; a crash AFTER the verdict
    write but BEFORE the sketch marker re-runs the epoch, and both
    writes are idempotent (verdicts overwrite their epoch= partition
    dir; commit_batch no-ops on a committed sid).

    Epoch ids are only meaningful WITHIN one stream checkpoint lineage
    (Spark renumbers batches from 0 under a fresh checkpoint dir, with a
    different epoch->input mapping), so the snapshot id is namespaced by
    a lineage token minted inside the checkpoint dir: restarting with
    the SAME dir resumes exactly-once; pointing at a FRESH dir is a new
    stream that reprocesses all input under new sids — Spark's own
    semantics — instead of silently skipping never-processed batches
    whose epoch number happens to collide with a committed one."""
    import os
    import uuid

    from ..operators.incremental import (
        SketchStore,
        batch_kmv_sketch,
        incremental_dedup_batch,
    )

    store = SketchStore(spark, sketch_root)
    lineage_file = os.path.join(stream_checkpoint_dir, "basicocr_lineage")
    if not os.path.exists(lineage_file):
        publish(lineage_file, uuid.uuid4().hex[:12])
    with open(lineage_file) as f:
        lineage = f.read().strip()

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sid = f"{lineage}-epoch{epoch_id:06d}"
        # is_committed (not committed_snapshots) so an epoch whose
        # sketches were folded into a compacted snapshot (tombstoned)
        # still skips — re-running it would verdict against a store
        # already containing its own rows and mark every doc a dup
        if store.is_committed(sid):
            return  # replayed epoch: verdicts + sketches already visible
        if batch_df.isEmpty():
            return
        verdicts, fp, bands = incremental_dedup_batch(batch_df, store)
        verdicts.write.mode("overwrite").parquet(
            os.path.join(verdicts_root, f"epoch={sid}")
        )
        # the batch's KMV token sketch commits alongside fp/bands, so
        # cross-crawl distinct-token telemetry is incremental too
        # (corpus_distinct_estimate never rescans committed batches)
        store.commit_batch(
            fp, bands, snapshot_id=sid, kmv_df=batch_kmv_sketch(batch_df)
        )

    stream = (
        spark.readStream.schema(input_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint_dir)
        .outputMode("update")
        .start()
    )
