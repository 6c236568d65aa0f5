#!/usr/bin/env python
"""Production extraction driver — the spark-submit surface.

    spark-submit --master <cluster> --py-files basicocr_spark.zip \
        run_extraction.py --input <parquet dir of interleaved docs> \
        --output <snapshot root> [--batch-size 100000] [--max-spans 64]

Runs the full north-rule job: ingest -> salt heavy docs ->
range-partition by (doc_id, salt) -> fused zero-shuffle extraction ->
merge salted slices -> snapshot-commit (data + per-partition lineage
manifest, atomic marker) in doc_id-bounded snapshots, resuming
idempotently: on restart only doc_ids absent from committed snapshots
are processed.

The pending docs are planned once per run: one anti-join against the
doc_ids committed before the run started. Each snapshot is the
--batch-size smallest of them above the previous snapshot's upper bound,
selected by its own upper doc_id bound (from a doc_id-only ordered take)
that filters the pending docs before the range repartition, so every
snapshot runs in parallel. This is exact because the run commits every
doc it selects. When nothing is pending the run stops before
committing: a re-run over a fully committed output commits nothing.

The extraction kernel is built once per run (operators.extraction.
fused_arrow_kernel: its broadcasts, memo token and forward), so each
Python worker keeps one DictionaryIndex and one set of recognition
memos across every snapshot, and forwards a media ref at most once per
run. The broadcasts are unpersisted when the run ends, failed or not.

Cold start. spark-submit starts the driver JVM before this script runs,
so the class-data archive that `session.get_spark` maps cannot be added
here. Pass it on the command line instead, with a `SPARK_CONF_DIR` that
is empty or holds only `*.template` files (JDK 17 neither dumps nor maps
an archive whose classpath holds a non-empty directory, and the conf dir
is on the driver classpath):

    mkdir -p /tmp/empty-conf
    # once: the archive is written when this job's JVM exits
    SPARK_CONF_DIR=/tmp/empty-conf spark-submit \
        --driver-java-options "-XX:ArchiveClassesAtExit=/path/spark.jsa" ...
    # every later job
    SPARK_CONF_DIR=/tmp/empty-conf spark-submit \
        --driver-java-options "-XX:SharedArchiveFile=/path/spark.jsa" ...

The Python workers import pyspark from Spark's source-only pyspark.zip
unless their daemon drops it, as `session.get_spark` has it do. Where
every worker host has the pyspark of the cluster's Spark installed and
can import this package before any task runs (`--py-files` reach a
worker only per task, so install it or put it on the executors'
`PYTHONPATH`), add

    --conf spark.python.daemon.module=basicocr_spark.worker_daemon

A daemon that finds no installed pyspark, or another version, exits
with both versions on stderr. `main()` builds its own session and does
not set this, because executors may have no installed pyspark.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession, functions as F

from basicocr_spark import fixtures as FX
from basicocr_spark import schemas as S
from basicocr_spark.operators.extraction import EXTRACTED_SPAN_SCHEMA, fused_arrow_kernel
from basicocr_spark.operators.salting import (
    merge_salted_extraction,
    salt_heavy_docs,
    salt_key,
    split_salt_key,
)
from basicocr_spark.plans.checkpoint import SnapshotWriter


def load_recognizer(spec: str | None):
    """CLI resolution of the resolve_recognizer seam. --recognizer
    <module>:<attr>: attr is a ZERO-ARG FACTORY returning the forward
    callable (list[media_ref] -> list[logits|None]); a factory (not the
    callable itself) so user config rides module state instead of CLI
    plumbing. This is how any real model plugs in (e.g.
    examples.numpy_crnn:make_recognizer). None: the kernel's forward is
    the fixture-logits lookup."""
    if spec is None:
        return None
    import importlib

    mod, sep, attr = spec.partition(":")
    if not sep or not attr:
        raise SystemExit(f"--recognizer must be <module>:<factory>, got {spec!r}")
    return getattr(importlib.import_module(mod), attr)()


def run(
    spark: SparkSession,
    input_dir: str,
    output_root: str,
    batch_size: int = 100_000,
    max_spans: int = 64,
    catalog_table: str | None = None,
    recognizer=None,
) -> dict:
    for name, size in (("batch_size", batch_size), ("max_spans", max_spans)):
        if size < 1:
            raise ValueError(f"{name} must be >= 1, got {size}")
    n_parts = spark.sparkContext.defaultParallelism * 2
    docs = spark.read.schema(S.DOCUMENTS).parquet(input_dir)
    writer = SnapshotWriter(spark, output_root, catalog_table=catalog_table)

    # recognition + dictionary sides (fixture-driven in this build; an
    # injected recognizer replaces the fixture logits), built once per run
    logits_rows = [] if recognizer is not None else FX.gen_media_logits(64, FX.SEED)
    kernel, broadcasts = fused_arrow_kernel(
        spark.sparkContext, logits_rows, FX.gen_dictionary(FX.SEED), FX.STOP_TERMS, recognizer
    )

    stats = {"snapshots": [], "docs": 0, "spans": 0, "wall_sec": 0.0}
    t_start = time.perf_counter()
    try:
        # the committed set is read once: every doc this run selects below
        # commits, so "pending above the previous bound" stays exact without
        # re-reading the snapshots it adds
        pending = writer.pending(docs)
        while True:
            # the batch is the batch_size smallest pending doc_ids: a
            # doc_id-only ordered take yields its count and upper bound, and
            # the bound filters BEFORE the range repartition, so every
            # snapshot runs n_parts tasks (a limit() here would force a
            # single-partition GlobalLimit)
            n_batch, last_id = (
                pending.select("doc_id")
                .orderBy("doc_id")
                .limit(batch_size)
                .agg(F.count(F.lit(1)), F.max("doc_id"))
                .first()
            )
            if n_batch == 0:
                break  # nothing pending: a re-run commits nothing
            batch = pending.filter(F.col("doc_id") <= last_id)
            pending = pending.filter(F.col("doc_id") > last_id)
            # salt before the exchange, so a heavy doc's slices can land in
            # other tasks
            salted = salt_heavy_docs(batch, max_spans=max_spans).repartitionByRange(
                n_parts, "doc_id", "salt"
            )
            keyed = salted.select(
                salt_key(F.col("doc_id"), F.col("salt")).alias("doc_id"), "spans"
            )
            extracted = keyed.mapInArrow(kernel, EXTRACTED_SPAN_SCHEMA)
            did, salt = split_salt_key(F.col("doc_id"))
            merged = merge_salted_extraction(
                extracted.select(did.alias("doc_id"), salt.alias("salt"), "spans")
            )
            info = writer.commit(merged)
            stats["snapshots"].append(info["snapshot_id"])
            stats["docs"] += sum(d for d, _ in info["partitions"].values())
            stats["spans"] += sum(sp for _, sp in info["partitions"].values())
            if n_batch < batch_size:
                break
    finally:
        for b in broadcasts:
            b.unpersist()
    stats["wall_sec"] = round(time.perf_counter() - t_start, 3)
    stats["docs_per_sec"] = round(stats["docs"] / stats["wall_sec"], 1) if stats["wall_sec"] else 0.0
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--batch-size", type=int, default=100_000)
    ap.add_argument("--max-spans", type=int, default=64)
    ap.add_argument(
        "--recognizer",
        default=None,
        help="module:factory - zero-arg factory returning the model forward "
        "(list[media_ref] -> list[logits|None]); replaces the fixture-logits "
        "default (see operators.extraction.resolve_recognizer)",
    )
    ap.add_argument(
        "--catalog-table",
        default=None,
        help="Iceberg table name (e.g. cat.db.extracted): snapshots commit "
        "via writeTo() to <name>/<name>_manifest instead of "
        "the --output directory model (requires the Iceberg runtime + "
        "configured catalog; fails fast at startup otherwise)",
    )
    args = ap.parse_args()
    spark = (
        SparkSession.builder.appName("basicocr_extraction")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    try:
        stats = run(
            spark,
            args.input,
            args.output,
            args.batch_size,
            args.max_spans,
            catalog_table=args.catalog_table,
            recognizer=load_recognizer(args.recognizer),
        )
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
