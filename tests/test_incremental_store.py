"""SketchStore-backed incremental dedup: the recurring-crawl loop where
batch N's verdicts come from batch N-1's COMMITTED sketches, never from a
recompute of the committed corpus. Pinned against
queries.docs_incremental_dedup (which computes both sides from the corpus
in one query) on the identical batch split."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basicocr_spark import queries as Q  # noqa: E402
from basicocr_spark.operators.incremental import (  # noqa: E402
    SketchStore,
    incremental_dedup_batch,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_two_batch_resume_matches_single_query(spark, tmp_path):
    """Batch 1 = the committed 80% slice (commit its sketches); batch 2 =
    the incoming 20% slice, verdicts computed ONLY from batch 2's docs +
    the store. Must equal docs_incremental_dedup, whose committed side is
    recomputed from the corpus — proving the store carries the full
    dedup state across batches."""
    store = SketchStore(spark, str(tmp_path / "sketches"))
    d = _docs(spark)
    committed_docs = d.filter(F.col("doc_id") % Q.INCR_MOD != 0)
    incoming_docs = d.filter(F.col("doc_id") % Q.INCR_MOD == 0)

    v1, fp1, b1 = incremental_dedup_batch(committed_docs, store)
    # empty store: everything in batch 1 is 'new'
    rows1 = v1.collect()
    assert rows1 and all(r.verdict == "new" and r.n_band_matches == 0 for r in rows1)
    res = store.commit_batch(fp1, b1)
    assert res["replayed"] is False

    v2, fp2, b2 = incremental_dedup_batch(incoming_docs, store)
    got = sorted(tuple(r) for r in v2.collect())
    want = sorted(tuple(r) for r in Q.docs_incremental_dedup(spark, SF).collect())
    assert got == want

    # commit batch 2 as well; a third batch of byte-identical clones of
    # incoming docs must now be exact dups against batch 2's sketches
    store.commit_batch(fp2, b2)
    clones = incoming_docs.limit(5).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    v3, _, _ = incremental_dedup_batch(clones, store)
    rows3 = v3.collect()
    assert len(rows3) == 5
    assert all(r.verdict == "exact_dup" for r in rows3)


def test_uncommitted_sketches_are_invisible(spark, tmp_path):
    """Crash-before-marker: sketch parquet written without the marker
    must not influence the next batch (readers union committed snapshot
    dirs only)."""
    store = SketchStore(spark, str(tmp_path / "s"))
    d = _docs(spark)
    _, fp1, b1 = incremental_dedup_batch(d.filter(F.col("doc_id") < 100), store)
    # simulate the crash: write data files but never drop the marker
    fp1.select("doc_id", "fp").write.mode("overwrite").parquet(
        str(tmp_path / "s" / "fp" / "snapshot=000000")
    )
    b1.select("doc_id", "band", "sig").write.mode("overwrite").parquet(
        str(tmp_path / "s" / "bands" / "snapshot=000000")
    )
    assert store.read("fp") is None
    assert store.read("bands") is None
    clones = d.filter(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    v, _, _ = incremental_dedup_batch(clones, store)
    assert all(r.verdict == "new" for r in v.collect())


def test_commit_is_exactly_once_on_replay(spark, tmp_path):
    store = SketchStore(spark, str(tmp_path / "s"))
    d = _docs(spark).filter(F.col("doc_id") < 50)
    _, fp, b = incremental_dedup_batch(d, store)
    first = store.commit_batch(fp, b, snapshot_id="000000")
    again = store.commit_batch(fp, b, snapshot_id="000000")
    assert first["replayed"] is False and again["replayed"] is True
    assert store.committed_snapshots() == ["000000"]


def test_streaming_incremental_dedup_crawl_loop(spark, tmp_path):
    """End-to-end streaming crawl loop: two file-batches where batch 2
    contains byte-identical clones of batch 1 docs. maxFilesPerTrigger=1
    forces two epochs; epoch 2's verdicts must be exact_dup via the
    sketches epoch 1 committed. A restarted stream over the same input
    replays nothing (epoch snapshots already committed)."""
    from basicocr_spark.operators.incremental import SketchStore
    from basicocr_spark.streaming.pipeline import streaming_incremental_dedup

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    d = _docs(spark).filter(F.col("doc_id") < 40).select("doc_id", "text")
    # one part file per batch (coalesce(1)), written as separate files
    d.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    d.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "b2"))
    import glob
    import shutil

    for i, src_dir in enumerate(("b1", "b2")):
        (part,) = glob.glob(str(tmp_path / src_dir / "part-*.parquet"))
        shutil.copy(part, str(input_dir / f"batch{i}.parquet"))

    q = streaming_incremental_dedup(
        spark,
        str(input_dir),
        "doc_id long, text string",
        str(tmp_path / "sketches"),
        str(tmp_path / "verdicts"),
        str(tmp_path / "stream_ckpt"),
        max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store = SketchStore(spark, str(tmp_path / "sketches"))
    sids = store.committed_snapshots()
    assert len(sids) == 2
    # sids are namespaced by the checkpoint-lineage token, epoch-ordered
    lineage = (tmp_path / "stream_ckpt" / "basicocr_lineage").read_text().strip()
    assert sids == [f"{lineage}-epoch000000", f"{lineage}-epoch000001"]
    v = spark.read.option("basePath", str(tmp_path / "verdicts")).parquet(
        str(tmp_path / "verdicts" / "epoch=*")
    )
    assert v.count() == 80
    by_epoch = {
        (r.epoch, r.verdict): r["count"]
        for r in v.groupBy("epoch", "verdict").count().collect()
    }
    assert by_epoch == {
        (f"{lineage}-epoch000000", "new"): 40,
        (f"{lineage}-epoch000001", "exact_dup"): 40,
    }, by_epoch

    # restart with the SAME checkpoint dir (the exactly-once contract —
    # a fresh dir is a NEW stream lineage that reprocesses all input
    # under new sids): no verdict duplication, no extra snapshots
    q2 = streaming_incremental_dedup(
        spark,
        str(input_dir),
        "doc_id long, text string",
        str(tmp_path / "sketches"),
        str(tmp_path / "verdicts"),
        str(tmp_path / "stream_ckpt"),
        max_files_per_trigger=1,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert len(store.committed_snapshots()) == 2
    v2 = spark.read.option("basePath", str(tmp_path / "verdicts")).parquet(
        str(tmp_path / "verdicts" / "epoch=*")
    )
    assert v2.count() == 80


def test_compact_merges_snapshots_and_preserves_verdicts(spark, tmp_path):
    """Three committed batches -> compact -> ONE snapshot, identical
    verdicts for a probe batch before and after; and in the crash window
    where old markers still coexist with the compacted one, duplicated
    sketch rows must not change any verdict (semi-join / countDistinct
    tolerance by construction)."""
    import os
    import shutil

    store = SketchStore(spark, str(tmp_path / "s"))
    d = _docs(spark)
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        _, fp, b = incremental_dedup_batch(
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), store
        )
        store.commit_batch(fp, b)
    assert len(store.committed_snapshots()) == 3

    probe = d.filter(F.col("doc_id") >= 300)
    before, _, _ = incremental_dedup_batch(probe, store)
    before_rows = sorted(tuple(r) for r in before.collect())

    # crash window: compacted snapshot written+committed, old markers
    # not yet deleted -> simulate by snapshotting _commits, compacting,
    # then restoring the old markers alongside the new one
    commits_dir = tmp_path / "s" / "_commits"
    saved = {p: (commits_dir / p).read_text() for p in os.listdir(commits_dir)}
    data_backup = tmp_path / "backup"
    shutil.copytree(tmp_path / "s", data_backup)

    res = store.compact()
    assert res["compacted"] == 3
    assert len(store.committed_snapshots()) == 1
    after, _, _ = incremental_dedup_batch(probe, store)
    assert sorted(tuple(r) for r in after.collect()) == before_rows

    # restore old markers AND old data dirs next to the compacted one
    for name, content in saved.items():
        (commits_dir / name).write_text(content)
    for table in ("fp", "bands"):
        for snap in os.listdir(data_backup / table):
            src = data_backup / table / snap
            dst = tmp_path / "s" / table / snap
            if not dst.exists():
                shutil.copytree(src, dst)
    assert len(store.committed_snapshots()) == 4  # duplicates visible
    dup, _, _ = incremental_dedup_batch(probe, store)
    assert sorted(tuple(r) for r in dup.collect()) == before_rows
    # re-running compact converges back to one snapshot
    res2 = store.compact()
    assert res2["compacted"] == 4
    assert len(store.committed_snapshots()) == 1
    final, _, _ = incremental_dedup_batch(probe, store)
    assert sorted(tuple(r) for r in final.collect()) == before_rows


def test_compact_tombstones_keep_replayed_epochs_committed(spark, tmp_path):
    """A stream epoch replayed AFTER compact() folded its sketches away
    must still read as committed (is_committed) and no-op on re-commit —
    otherwise the replay re-runs against a store already containing its
    own sketches and verdicts every doc an exact_dup."""
    store = SketchStore(spark, str(tmp_path / "s"))
    d = _docs(spark)
    epoch_sids = []
    for lo, hi in ((0, 50), (50, 100)):
        batch = d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        _, fp, b = incremental_dedup_batch(batch, store)
        sid = f"lineage-epoch{lo:06d}"
        store.commit_batch(fp, b, snapshot_id=sid)
        epoch_sids.append(sid)

    res = store.compact()
    assert res["compacted"] == 2
    # markers gone, tombstones present: still committed
    assert store.committed_snapshots() == [res["snapshot_id"]]
    assert store.superseded_snapshots() == sorted(epoch_sids)
    for sid in epoch_sids:
        assert store.is_committed(sid)
    assert not store.is_committed("lineage-epoch999999")

    # the replay path: re-committing a tombstoned epoch is a no-op
    batch0 = d.filter(F.col("doc_id") < 50)
    v, fp, b = incremental_dedup_batch(batch0, store)
    again = store.commit_batch(fp, b, snapshot_id=epoch_sids[0])
    assert again["replayed"] is True
    assert store.committed_snapshots() == [res["snapshot_id"]]

    # auto-sid allocation must dodge tombstoned sids: committing a fresh
    # batch gets a brand-new sid, never a superseded one
    fresh = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    _, fp2, b2 = incremental_dedup_batch(fresh, store)
    res3 = store.commit_batch(fp2, b2)
    assert res3["replayed"] is False
    assert res3["snapshot_id"] not in epoch_sids


def test_kmv_sketches_merge_incrementally_without_rescan(spark, tmp_path):
    """Two batches commit KMV token sketches; the corpus distinct
    estimate from the COMMITTED sketches must exactly equal
    docs_token_kmv_distinct over the full corpus (KMV union is exact:
    k-min of per-batch k-mins == k-min of the union) — computed after
    batch 1's source parquet is DELETED, proving no rescan. Compaction
    folds the kmv sketches too, estimate unchanged."""
    import shutil

    from basicocr_spark.operators.incremental import (
        batch_kmv_sketch,
        corpus_distinct_estimate,
    )

    d = _docs(spark)
    b1_docs = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b2_docs = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    b1_path = tmp_path / "b1"
    b1_docs.write.mode("overwrite").parquet(str(b1_path))

    store = SketchStore(spark, str(tmp_path / "s"))
    b1 = spark.read.parquet(str(b1_path))
    _, fp1, bd1 = incremental_dedup_batch(b1, store)
    store.commit_batch(fp1, bd1, kmv_df=batch_kmv_sketch(b1))
    _, fp2, bd2 = incremental_dedup_batch(b2_docs, store)
    store.commit_batch(fp2, bd2, kmv_df=batch_kmv_sketch(b2_docs))

    shutil.rmtree(b1_path)  # committed batch text gone: only sketches remain

    want = Q.docs_token_kmv_distinct(spark, SF).collect()[0]
    got = corpus_distinct_estimate(store)
    assert got["k"] == want["k"]
    assert got["n_sketch"] == want["n_sketch"]
    assert got["est_distinct"] == want["est_distinct"]

    # compaction folds kmv into one snapshot; estimate unchanged
    res = store.compact()
    assert res["compacted"] == 2
    assert corpus_distinct_estimate(store) == got

    # an in-flight batch of NEW tokens unions in without a store commit
    fresh = spark.createDataFrame(
        [(10_000_000 + i, f"zzznew{i} qqqrare{i}") for i in range(50)],
        "doc_id long, text string",
    )
    bigger = corpus_distinct_estimate(store, extra_kmv=batch_kmv_sketch(fresh))
    assert bigger["est_distinct"] >= got["est_distinct"]


def test_incremental_media_dedup_two_batch_crawl(spark, tmp_path):
    """Media crawl loop: batch 1's perceptual hashes commit; batch 2's
    clones verdict exact_dup, perturbed re-encodes near_dup_candidate,
    fresh images new, corrupt blobs skipped — all from the COMMITTED
    sketches (batch 1's blobs never re-decoded). Replay no-ops;
    compaction folds phash snapshots without changing verdicts."""
    from basicocr_spark.operators.incremental import incremental_media_dedup_batch
    from basicocr_spark.operators.multimodal import (
        MEDIA_BLOB,
        encode_fake_image,
        perturb_fake_image,
    )

    store = SketchStore(spark, str(tmp_path / "s"))
    base = {f"img{i:04d}-{chr(97 + i)}{i * i + 7}": encode_fake_image(
        f"img{i:04d}-{chr(97 + i)}{i * i + 7}", 96 + 8 * (i % 5), 32
    ) for i in range(8)}
    b1 = spark.createDataFrame(
        [(r, buf, "image/x-bocr", None, None) for r, buf in base.items()],
        schema=MEDIA_BLOB,
    )
    v1, ph1 = incremental_media_dedup_batch(b1, store)
    assert all(r.verdict == "new" for r in v1.collect())
    res = store.commit_media_batch(ph1)
    assert res["replayed"] is False
    assert store.commit_media_batch(ph1, snapshot_id=res["snapshot_id"])["replayed"]

    refs = sorted(base)
    b2_rows = (
        [(f"{r}_clone", base[r], "image/x-bocr", None, None) for r in refs[:3]]
        + [
            (f"{r}_near", perturb_fake_image(base[r], (4, 5)), "image/x-bocr", None, None)
            for r in refs[3:6]
        ]
        + [("freshzz9", encode_fake_image("freshzz9", 120, 32), "image/x-bocr", None, None)]
        + [("imgbad", b"\x00junk", "image/x-bocr", None, None)]
    )
    b2 = spark.createDataFrame(b2_rows, schema=MEDIA_BLOB)
    v2, ph2 = incremental_media_dedup_batch(b2, store)
    got = {r.media_ref: r.verdict for r in v2.collect()}
    assert "imgbad" not in got  # undecodable: no sketch, no verdict
    for r in refs[:3]:
        assert got[f"{r}_clone"] == "exact_dup", got
    for r in refs[3:6]:
        assert got[f"{r}_near"] == "near_dup_candidate", got
    assert got["freshzz9"] == "new"
    store.commit_media_batch(ph2)

    # compaction folds the phash snapshots; a probe batch of batch-2
    # clones still verdicts exact_dup afterwards
    assert store.compact()["compacted"] == 2
    probe = spark.createDataFrame(
        [("probe1", base[refs[0]], "image/x-bocr", None, None)], schema=MEDIA_BLOB
    )
    v3, _ = incremental_media_dedup_batch(probe, store)
    assert [r.verdict for r in v3.collect()] == ["exact_dup"]


def test_sketchstore_rejects_non_local_root(spark, tmp_path):
    """A misconfigured non-local root must fail loudly, not silently
    verdict every batch 'new' (listings over os.listdir would come back
    empty on hdfs:// / s3a:// roots)."""
    import pytest

    for bad in ("hdfs://nn/warehouse/sketches", "s3a://bucket/sketches"):
        with pytest.raises(ValueError, match="local filesystem root"):
            SketchStore(spark, bad)
    # file:// URIs are local: accepted and unquoted
    st = SketchStore(spark, f"file://{tmp_path}/with%20space")
    assert st.root == f"{tmp_path}/with space"


def test_crash_before_marker_in_commit_batch_then_retry_commits_once(
    spark, tmp_path, monkeypatch
):
    """commit_batch crashes after writing its tables, right before its
    marker is renamed into place: the store's readers see none of the
    batch, the committed snapshots are unchanged, and a retry with the
    same sid commits the batch once."""
    import pytest

    from basicocr_spark.operators.incremental import batch_kmv_sketch
    from basicocr_spark.plans import checkpoint as CK

    store = SketchStore(spark, str(tmp_path / "s"))
    d = _docs(spark)
    _, fp0, b0 = incremental_dedup_batch(d.filter(F.col("doc_id") < 50), store)
    store.commit_batch(fp0, b0, snapshot_id="b0")
    n_fp, n_bands = store.read("fp").count(), store.read("bands").count()

    batch = d.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
    _, fp, bands = incremental_dedup_batch(batch, store)
    kmv = batch_kmv_sketch(batch)
    rename = CK.os.rename

    def crashing_rename(src, dst, *args, **kwargs):
        if os.path.basename(dst) == "b1":
            raise OSError("crashed before the b1 marker")
        return rename(src, dst, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(CK.os, "rename", crashing_rename)
        with pytest.raises(OSError, match="crashed before the b1 marker"):
            store.commit_batch(fp, bands, snapshot_id="b1", kmv_df=kmv)
    assert os.path.isdir(tmp_path / "s" / "fp" / "snapshot=b1")  # the orphan
    assert store.committed_snapshots() == ["b0"]
    assert not store.is_committed("b1")
    assert store.read("fp").count() == n_fp
    assert store.read("bands").count() == n_bands
    assert store.read("kmv") is None

    assert store.commit_batch(fp, bands, snapshot_id="b1", kmv_df=kmv) == {
        "snapshot_id": "b1",
        "replayed": False,
    }
    assert store.committed_snapshots() == ["b0", "b1"]
    assert store.read("fp").count() == n_fp + batch.count()
    assert store.read("kmv").count() == kmv.count()
    assert store.commit_batch(fp, bands, snapshot_id="b1")["replayed"] is True


def test_commit_batch_with_a_drifted_doc_id_raises_before_writing(spark, tmp_path):
    """The sketch tables keep the schema their committed snapshots were
    written with: a batch whose doc_id type differs raises before any
    table is written, and its sid leaves no data directory and no marker."""
    import pytest

    store = SketchStore(spark, str(tmp_path / "s"))
    d = _docs(spark)
    _, fp, bands = incremental_dedup_batch(d.filter(F.col("doc_id") < 50), store)
    store.commit_batch(fp, bands, snapshot_id="b0")

    def as_string(df):
        return df.withColumn("doc_id", F.col("doc_id").cast("string"))

    with pytest.raises(ValueError, match="schema drift"):
        store.commit_batch(as_string(fp), as_string(bands), snapshot_id="b1")
    for table in ("fp", "bands"):
        assert not os.path.exists(tmp_path / "s" / table / "snapshot=b1")
    assert not os.path.exists(tmp_path / "s" / "_commits" / "b1")
    assert store.committed_snapshots() == ["b0"]


def test_verdicts_against_a_committed_store_plan_without_a_job(spark, tmp_path):
    """Building a batch's verdicts against a committed store runs no
    Spark job: the store reads pass the schema from the parquet footers,
    so no read infers one."""
    store = SketchStore(spark, str(tmp_path / "s"))
    d = _docs(spark)
    _, fp, bands = incremental_dedup_batch(d.filter(F.col("doc_id") < 50), store)
    store.commit_batch(fp, bands, snapshot_id="b0")
    batch = d.filter(F.col("doc_id") >= 50)
    sc = spark.sparkContext
    group = f"incr-plan-{tmp_path.name}"
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    try:
        sc.setJobGroup(group, "plan")
        incremental_dedup_batch(batch, store)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == 0
