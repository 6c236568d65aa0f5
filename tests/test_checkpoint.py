"""Snapshot checkpoint / idempotent resume semantics."""

import os

from basicocr_spark.fixtures import STOP_TERMS
from basicocr_spark.operators.extraction import extract_documents_fused_arrow
from basicocr_spark.plans.checkpoint import SnapshotWriter, committed_snapshots


def _extract(fx, docs):
    logits_rows = [
        (r.media_ref, [list(x) for x in r.logits], r.gold_text)
        for r in fx["media_logits"].collect()
    ]
    return extract_documents_fused_arrow(docs, logits_rows, fx["dict_lines"], STOP_TERMS)


def test_resume_processes_only_pending(spark, fx, tmp_path):
    root = str(tmp_path / "ckpt")
    w = SnapshotWriter(spark, root)
    docs = fx["documents"]
    total = docs.count()

    # batch 1: first half by doc_id
    half = docs.filter(docs.doc_id < "d00000020")
    out1 = _extract(fx, w.pending(half))
    info1 = w.commit(out1)
    assert committed_snapshots(root) == [info1["snapshot_id"]]
    n1 = w.read_committed().count()
    assert n1 == half.count()

    # batch 2: full input — pending() must exclude committed docs
    pend = w.pending(docs)
    assert pend.count() == total - n1
    out2 = _extract(fx, pend)
    w.commit(out2)
    final = w.read_committed()
    assert final.count() == total
    assert final.select("doc_id").distinct().count() == total

    # batch 3: nothing pending — idempotent re-run is a no-op
    assert w.pending(docs).count() == 0


def test_uncommitted_data_is_invisible(spark, fx, tmp_path):
    root = str(tmp_path / "ckpt2")
    w = SnapshotWriter(spark, root)
    out = _extract(fx, fx["documents"])
    # simulate a crash: write data WITHOUT the commit marker
    out.write.mode("overwrite").parquet(os.path.join(root, "data", "snapshot=s000000"))
    assert committed_snapshots(root) == []
    assert w.read_committed() is None
    assert w.pending(fx["documents"]).count() == fx["documents"].count()


def test_manifest_lineage_totals(spark, fx, tmp_path):
    root = str(tmp_path / "ckpt3")
    w = SnapshotWriter(spark, root)
    info = w.commit(_extract(fx, fx["documents"]))
    m = w.read_manifest()
    rows = m.collect()
    assert sum(r.doc_count for r in rows) == fx["documents"].count()
    span_total = sum(r.span_count for r in rows)
    assert span_total == sum(
        len(r.spans) for r in fx["golden"].collect()
    )
    for r in rows:
        assert r.text_span_count + r.media_span_count == r.span_count
        assert r.min_doc_id <= r.max_doc_id
        assert r.wall_time_sec > 0
    assert info["partitions"]


def test_commit_is_idempotent_for_replayed_sid(spark, tmp_path, fx):
    """Re-committing an epoch id (streaming replay after crash) must be
    a no-op that returns the existing stats — never an overwrite of a
    visible snapshot's files."""
    from basicocr_spark.plans.checkpoint import SnapshotWriter

    root = str(tmp_path / "snap_replay")
    w = SnapshotWriter(spark, root)
    first = w.commit(fx["golden"].limit(10), snapshot_id="epoch000000")
    n_before = w.read_committed().count()
    replay = w.commit(fx["golden"].limit(3), snapshot_id="epoch000000")
    assert replay.get("replayed") is True
    assert replay["snapshot_id"] == "epoch000000"
    assert w.read_committed().count() == n_before  # data untouched
    assert replay["partitions"] == first["partitions"]


def test_stale_tmp_marker_is_not_a_committed_snapshot(spark, tmp_path, fx):
    """A crash between the marker tmp-write and rename must not create a
    phantom committed snapshot."""
    import os

    from basicocr_spark.plans.checkpoint import SnapshotWriter, committed_snapshots

    root = str(tmp_path / "snap_tmp")
    w = SnapshotWriter(spark, root)
    w.commit(fx["golden"].limit(5), snapshot_id="s000000")
    # simulate the crash artifact
    with open(os.path.join(root, "_commits", "s000001.tmp"), "w") as f:
        f.write("s000001")
    assert committed_snapshots(root) == ["s000000"]
    assert w.read_committed().count() == 5
    # next auto-numbered commit reuses s000001 (the attempt never committed)
    out = w.commit(fx["golden"].limit(2))
    assert out["snapshot_id"] == "s000001"


def _cli_input(spark, tmp_path, ids):
    """One text span per doc, written in the given (storage) order."""
    from basicocr_spark import schemas as S

    docs = spark.createDataFrame(
        [(d, [("text", f"<p>hello world number {d} content</p>", None, 1)]) for d in ids],
        schema=S.DOCUMENTS,
    )
    inp = str(tmp_path / "cli_in")
    docs.write.mode("overwrite").parquet(inp)
    return inp


def test_cli_run_preserves_multichar_doc_ids(spark, tmp_path):
    """End-to-end CLI run(): composite doc_id#salt keys must round-trip
    multi-character doc ids exactly (the SALT_SEP constant exists
    because an invisible inline separator was once mistaken for an
    empty string — an empty separator silently truncates every id to
    its first character)."""
    import run_extraction as RX

    ids = [str(100 + i) for i in range(8)]
    inp, out = _cli_input(spark, tmp_path, ids), str(tmp_path / "cli_out")
    stats = RX.run(spark, inp, out, batch_size=5)
    assert stats["docs"] == 8
    got = {r.doc_id for r in SnapshotWriter(spark, out).read_committed().collect()}
    assert got == set(ids)


def test_cli_snapshots_are_the_smallest_pending_doc_ids(spark, tmp_path):
    """A snapshot is the batch_size smallest pending doc_ids, whatever the
    storage order: s000000 holds exactly the 5 smallest of 8."""
    import run_extraction as RX

    ids = ["105", "100", "107", "103", "101", "106", "104", "102"]
    inp, out = _cli_input(spark, tmp_path, ids), str(tmp_path / "cli_out")
    stats = RX.run(spark, inp, out, batch_size=5)
    assert stats["snapshots"] == ["s000000", "s000001"]
    first = spark.read.parquet(os.path.join(out, "data", "snapshot=s000000"))
    assert sorted(r.doc_id for r in first.collect()) == sorted(ids)[:5]


def test_cli_rerun_over_committed_root_commits_nothing(spark, tmp_path):
    """Idempotent resume: a second run() over a fully committed root
    processes 0 docs and adds no snapshot (no empty data/manifest
    commit either)."""
    import run_extraction as RX

    ids = [str(200 + i) for i in range(6)]
    inp, out = _cli_input(spark, tmp_path, ids), str(tmp_path / "cli_out")
    assert RX.run(spark, inp, out, batch_size=4)["docs"] == 6
    before = committed_snapshots(out)
    again = RX.run(spark, inp, out, batch_size=4)
    assert again["docs"] == 0 and again["snapshots"] == []
    assert committed_snapshots(out) == before
    assert sorted(os.listdir(os.path.join(out, "data"))) == [f"snapshot={s}" for s in before]


def test_cli_rejects_bad_sizes_before_any_job(spark, tmp_path):
    """run() raises ValueError naming the argument for a batch_size or
    max_spans below 1, before it fires a Spark job or commits anything;
    salt_heavy_docs rejects max_spans below 1 the same way."""
    import pytest

    import run_extraction as RX
    from basicocr_spark.operators.salting import salt_heavy_docs

    inp, out = _cli_input(spark, tmp_path, ["100", "101"]), str(tmp_path / "cli_out")
    sc = spark.sparkContext
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    try:
        for kw in ({"batch_size": 0}, {"batch_size": -1}, {"max_spans": 0}):
            (name,) = kw
            group = f"bad-size-{name}-{kw[name]}-{tmp_path.name}"
            sc.setJobGroup(group, group)
            with pytest.raises(ValueError, match=name):
                RX.run(spark, inp, out, **kw)
            assert sc.statusTracker().getJobIdsForGroup(group) == [], kw
            assert committed_snapshots(out) == [], kw
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        sc.setLocalProperty("spark.job.description", None)
    docs = spark.read.parquet(inp)
    with pytest.raises(ValueError, match="max_spans"):
        salt_heavy_docs(docs, max_spans=0)


def test_cli_commits_zero_span_doc_once(spark, tmp_path):
    """A doc with an empty or a null spans array is committed exactly
    once, with `[]` (the kernel, the SQL oracle and the reference all
    keep it), and a re-run over the committed root commits nothing. The
    input is written with pyarrow: S.DOCUMENTS declares spans non-null,
    so Spark would refuse the null doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import run_extraction as RX

    span = {"kind": "text", "text": "<p>hello world content</p>", "media_ref": None, "offset": 1}
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
         ("offset", pa.int32())]
    )
    inp, out = str(tmp_path / "cli_in"), str(tmp_path / "cli_out")
    os.makedirs(inp)
    pq.write_table(
        pa.table(
            {"doc_id": ["100", "101", "102", "103"], "spans": [[], [span], [span], None]},
            schema=pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))]),
        ),
        os.path.join(inp, "part-00000.parquet"),
    )
    assert RX.run(spark, inp, out, batch_size=2)["docs"] == 4
    rows = SnapshotWriter(spark, out).read_committed().collect()
    assert sorted(r.doc_id for r in rows) == ["100", "101", "102", "103"]
    assert [r.spans for r in rows if r.doc_id in ("100", "103")] == [[], []]
    before = committed_snapshots(out)
    again = RX.run(spark, inp, out, batch_size=2)
    assert again["docs"] == 0 and again["snapshots"] == []
    assert committed_snapshots(out) == before


def test_directory_commit_writes_only_data_manifest_and_marker(spark, tmp_path, fx):
    """A commit writes data/, manifest/ and the marker: no side table
    duplicates the data's doc_id column."""
    root = str(tmp_path / "lean")
    SnapshotWriter(spark, root).commit(fx["golden"].limit(5))
    assert sorted(os.listdir(root)) == ["_commits", "data", "manifest"]
    assert os.listdir(os.path.join(root, "_commits")) == ["s000000"]
    assert os.listdir(os.path.join(root, "data")) == ["snapshot=s000000"]
    assert os.listdir(os.path.join(root, "manifest")) == ["snapshot=s000000"]


def test_cli_resumes_a_root_with_a_stale_docids_dir(spark, tmp_path):
    """A root in the older layout (a `docids/` copy of each snapshot's
    doc_ids, here also a crashed attempt's orphan data and docids)
    resumes from the data snapshots alone: every doc commits once."""
    import run_extraction as RX

    ids = [str(300 + i) for i in range(9)]
    out = str(tmp_path / "cli_out")
    RX.run(spark, _cli_input(spark, tmp_path / "first", ids[:4]), out, batch_size=4)
    assert committed_snapshots(out) == ["s000000"]
    committed = spark.read.parquet(os.path.join(out, "data", "snapshot=s000000"))
    committed.select("doc_id").write.parquet(os.path.join(out, "docids", "snapshot=s000000"))
    # a crash after the data and docids writes, before the marker
    orphan = spark.createDataFrame([(d,) for d in ids[4:6]], "doc_id string")
    orphan.write.parquet(os.path.join(out, "docids", "snapshot=s000001"))
    committed.limit(1).write.parquet(os.path.join(out, "data", "snapshot=s000001"))

    stats = RX.run(spark, _cli_input(spark, tmp_path, ids), out, batch_size=3)
    assert stats["docs"] == 5 and stats["snapshots"] == ["s000001", "s000002"]
    got = [r.doc_id for r in SnapshotWriter(spark, out).read_committed().collect()]
    assert sorted(got) == ids


def test_cli_snapshots_skip_ids_committed_before_the_run(spark, tmp_path):
    """With every even id committed beforehand, each snapshot is the
    batch_size smallest ids still pending, and every doc commits once."""
    import run_extraction as RX

    ids = [str(400 + i) for i in range(20)]
    evens, odds = ids[::2], ids[1::2]
    out = str(tmp_path / "cli_out")
    RX.run(spark, _cli_input(spark, tmp_path / "evens", evens), out, batch_size=100)
    stats = RX.run(spark, _cli_input(spark, tmp_path, ids), out, batch_size=3)
    assert stats["docs"] == 10
    assert stats["snapshots"] == ["s000001", "s000002", "s000003", "s000004"]
    for k, sid in enumerate(stats["snapshots"]):
        snap = spark.read.parquet(os.path.join(out, "data", f"snapshot={sid}"))
        assert sorted(r.doc_id for r in snap.collect()) == odds[3 * k : 3 * k + 3]
    got = [r.doc_id for r in SnapshotWriter(spark, out).read_committed().collect()]
    assert sorted(got) == ids


def test_iceberg_flag_raises_clearly_without_jars(spark, tmp_path):
    """The sandbox has no Iceberg runtime: iceberg_available must say so,
    and opting into catalog_table must fail AT CONSTRUCTION with the
    directory fallback named — never mid-job."""
    import pytest

    from basicocr_spark.plans.checkpoint import SnapshotWriter, iceberg_available

    assert iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="directory snapshot model"):
        SnapshotWriter(spark, str(tmp_path / "root"), catalog_table="cat.db.extracted")
    # default construction is unaffected by the flag's existence
    assert SnapshotWriter(spark, str(tmp_path / "root")).catalog_table is None


class _FakeCatalogIO:
    """In-memory stand-in for _CatalogIO: stores each table as collected
    rows + schema, records write calls in order, and can inject a crash
    after the Nth write — lets the commit protocol (manifest-last
    visibility, idempotent retry, resume filtering) run without an
    Iceberg runtime."""

    def __init__(self, spark, fail_after_writes=None):
        self.spark = spark
        self.tables = {}
        self.writes = []
        self.fail_after_writes = fail_after_writes

    def _store(self, df, name, replace_sid=None):
        if self.fail_after_writes is not None and len(self.writes) >= self.fail_after_writes:
            raise RuntimeError("injected catalog outage")
        rows = df.collect()
        schema = df.schema
        if replace_sid is None:
            self.tables[name] = (schema, list(rows))
        else:
            old_schema, old_rows = self.tables[name]
            kept = [r for r in old_rows if r["snapshot_id"] != replace_sid]
            self.tables[name] = (old_schema, kept + list(rows))
        self.writes.append((("create" if replace_sid is None else "overwrite"), name))

    def exists(self, name):
        return name in self.tables

    def read(self, name):
        schema, rows = self.tables[name]
        return self.spark.createDataFrame(rows, schema=schema)

    def create_partitioned(self, df, name):
        self._store(df, name)

    def overwrite_snapshot(self, df, name, sid):
        self._store(df, name, replace_sid=sid)


def _mk_writer_catalog(spark, io):
    from basicocr_spark.plans.checkpoint import SnapshotWriter

    return SnapshotWriter(spark, root="/nonexistent", catalog_table="cat.db.ext", catalog_io=io)


def _batch(spark, ids):
    from basicocr_spark import schemas as S

    return spark.createDataFrame(
        [(str(d), [("text", f"body {d}", None, 1)]) for d in ids], schema=S.DOCUMENTS
    )


def test_catalog_commit_protocol_manifest_last_and_distinct_sids(spark):
    io = _FakeCatalogIO(spark)
    w = _mk_writer_catalog(spark, io)
    s1 = w.commit(_batch(spark, [1, 2, 3]))
    s2 = w.commit(_batch(spark, [4, 5]))
    # auto sids advance (manifest-derived, not directory-derived)
    assert (s1["snapshot_id"], s2["snapshot_id"]) == ("s000000", "s000001")
    # per-commit write order: data, then the manifest LAST (visibility point)
    names = [n for _, n in io.writes]
    assert names == ["cat.db.ext", "cat.db.ext_manifest"] * 2
    got = {r["doc_id"] for r in w.read_committed().collect()}
    assert got == {"1", "2", "3", "4", "5"}
    assert w.read_manifest().count() >= 2


def test_catalog_replayed_sid_is_noop(spark):
    io = _FakeCatalogIO(spark)
    w = _mk_writer_catalog(spark, io)
    first = w.commit(_batch(spark, [1, 2]), snapshot_id="e7")
    n_writes = len(io.writes)
    again = w.commit(_batch(spark, [1, 2]), snapshot_id="e7")
    assert again["replayed"] is True
    assert again["partitions"] == first["partitions"]
    assert len(io.writes) == n_writes  # zero new writes
    assert w.read_committed().count() == 2  # no duplicates


def test_catalog_crash_before_manifest_stays_invisible_and_retry_is_exact(spark):
    # crash after the data write, BEFORE the manifest (write #2)
    io = _FakeCatalogIO(spark, fail_after_writes=1)
    w = _mk_writer_catalog(spark, io)
    try:
        w.commit(_batch(spark, [7, 8]), snapshot_id="sX")
        raise AssertionError("expected injected outage")
    except RuntimeError as e:
        assert "injected" in str(e)
    # orphan data rows exist but the snapshot is NOT visible anywhere
    assert w.read_committed() is None
    assert w.processed_doc_ids() is None
    assert w.pending(_batch(spark, [7, 8])).count() == 2  # resume redoes the batch
    # retry overwrites the orphan partition — no duplicate rows
    io.fail_after_writes = None
    w.commit(_batch(spark, [7, 8]), snapshot_id="sX")
    assert [r["doc_id"] for r in w.read_committed().orderBy("doc_id").collect()] == ["7", "8"]
    assert w.pending(_batch(spark, [7, 8, 9])).count() == 1


def test_catalog_guard_requires_configured_catalog(spark, tmp_path):
    """Even if the jar were present, an unconfigured catalog name must
    fail at construction (the session has no spark.sql.catalog.cat)."""
    import pytest

    from basicocr_spark.plans.checkpoint import SnapshotWriter

    with pytest.raises(RuntimeError, match="directory snapshot model"):
        SnapshotWriter(spark, str(tmp_path), catalog_table="cat.db.ext")


def test_auto_sid_skips_explicitly_committed_ids(spark, tmp_path):
    """Auto sid generation must not collide with a previously committed
    EXPLICIT snapshot_id — a collision reads as a replayed epoch and
    silently drops the new batch. Both legs."""
    from basicocr_spark.plans.checkpoint import SnapshotWriter

    # directory leg
    w = SnapshotWriter(spark, str(tmp_path / "root"))
    w.commit(_batch(spark, [1]), snapshot_id="s000000")
    out = w.commit(_batch(spark, [2]))  # auto: must pick s000001, not replay
    assert out["snapshot_id"] == "s000001" and "replayed" not in out
    assert {r["doc_id"] for r in w.read_committed().collect()} == {"1", "2"}

    # catalog leg
    io = _FakeCatalogIO(spark)
    wc = _mk_writer_catalog(spark, io)
    wc.commit(_batch(spark, [1]), snapshot_id="s000000")
    out = wc.commit(_batch(spark, [2]))
    assert out["snapshot_id"] == "s000001" and "replayed" not in out
    assert {r["doc_id"] for r in wc.read_committed().collect()} == {"1", "2"}


def test_file_uri_root_commits_and_resumes(spark, tmp_path):
    """A file:// root is the local directory it names: a commit lands
    there, a resume finds 0 pending and no second snapshot, and the docs
    read back. Any other scheme fails when the writer is constructed,
    instead of every listing silently coming back empty."""
    import pytest

    root = f"file://{tmp_path}/file%20root"
    docs = _batch(spark, [1, 2, 3, 4])
    w = SnapshotWriter(spark, root)
    assert w.commit(w.pending(docs))["snapshot_id"] == "s000000"
    assert committed_snapshots(str(tmp_path / "file root")) == ["s000000"]
    assert committed_snapshots(root) == ["s000000"]

    again = SnapshotWriter(spark, root)
    assert again.pending(docs).count() == 0
    assert {r.doc_id for r in again.read_committed().collect()} == {"1", "2", "3", "4"}
    assert again.read_manifest().count() >= 1
    for bad in ("hdfs://nn/warehouse/out", "s3a://bucket/out"):
        with pytest.raises(ValueError, match="local filesystem root"):
            SnapshotWriter(spark, bad)


def test_replayed_commit_and_manifest_read_fire_one_job_each(spark, tmp_path):
    """No store read infers a schema: a replayed commit and
    read_manifest() each run only the collect of the written manifest,
    and read_committed() only its collect."""
    w = SnapshotWriter(spark, str(tmp_path / "root"))
    w.commit(_batch(spark, [1, 2]), snapshot_id="e0")
    replay_arg = _batch(spark, [1, 2])
    sc = spark.sparkContext
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    jobs = {}
    try:
        for name, action in (
            ("replay", lambda: w.commit(replay_arg, snapshot_id="e0")),
            ("manifest", lambda: w.read_manifest().collect()),
            ("committed", lambda: w.read_committed().collect()),
        ):
            sc.setJobGroup(f"ckpt-{name}-{tmp_path.name}", name)
            action()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"ckpt-{name}-{tmp_path.name}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == {"replay": 1, "manifest": 1, "committed": 1}


def test_both_stores_read_back_the_same_columns(spark, tmp_path):
    """The directory store and the catalog store read back the same data
    and manifest fields (names and types): the ones a commit writes, with
    the catalog's snapshot_id partition column dropped on read."""
    from pyspark.sql import functions as F

    from basicocr_spark.plans.checkpoint import partition_manifest

    def fields(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    batch = _batch(spark, [1, 2, 3])
    writers = [
        SnapshotWriter(spark, str(tmp_path / "root")),
        _mk_writer_catalog(spark, _FakeCatalogIO(spark)),
    ]
    for w in writers:
        w.commit(batch)
    directory, catalog = (
        (fields(w.read_committed()), fields(w.read_manifest())) for w in writers
    )
    assert directory == catalog
    written = partition_manifest(batch).withColumn("wall_time_sec", F.lit(0.5))
    assert directory == (fields(batch), fields(written))


def test_commit_with_a_drifted_schema_raises_before_writing(spark, tmp_path):
    """A table keeps the schema its committed snapshots were written
    with: a commit whose doc_id type differs raises before it writes, and
    its sid leaves no data directory and no marker. Nullability alone is
    not drift."""
    import pytest
    from pyspark.sql import functions as F

    root = tmp_path / "root"
    w = SnapshotWriter(spark, str(root))
    w.commit(_batch(spark, [1, 2]), snapshot_id="e0")
    drifted = _batch(spark, [3]).withColumn("doc_id", F.col("doc_id").cast("long"))
    with pytest.raises(ValueError, match="schema drift"):
        w.commit(drifted, snapshot_id="e1")
    assert not (root / "data" / "snapshot=e1").exists()
    assert not (root / "_commits" / "e1").exists()
    assert committed_snapshots(str(root)) == ["e0"]
    nullable = _batch(spark, [3]).withColumn(
        "doc_id", F.when(F.col("doc_id") != "", F.col("doc_id"))
    )
    assert nullable.schema["doc_id"].nullable and not _batch(spark, [3]).schema["doc_id"].nullable
    w.commit(nullable, snapshot_id="e1")
    assert sorted(r.doc_id for r in w.read_committed().collect()) == ["1", "2", "3"]


def test_unpublished_attempt_does_not_pin_the_schema(spark, tmp_path, monkeypatch):
    """A first attempt that crashes before its marker leaves orphan data
    of another schema; the retry checks against committed snapshots only,
    so it commits."""
    import pytest
    from pyspark.sql import functions as F

    from basicocr_spark.plans import checkpoint as CK

    root = tmp_path / "root"
    w = SnapshotWriter(spark, str(root))
    longs = _batch(spark, [1, 2]).withColumn("doc_id", F.col("doc_id").cast("long"))

    def crashing_rename(src, dst):
        raise OSError("crashed before the marker")

    with monkeypatch.context() as m:
        m.setattr(CK.os, "rename", crashing_rename)
        with pytest.raises(OSError, match="crashed before the marker"):
            w.commit(longs)
    assert os.path.isdir(root / "data" / "snapshot=s000000")  # the orphan
    assert w.read_committed() is None
    assert w.commit(_batch(spark, [1, 2]))["snapshot_id"] == "s000000"
    got = w.read_committed()
    assert got.schema["doc_id"].dataType.simpleString() == "string"
    assert sorted(r.doc_id for r in got.collect()) == ["1", "2"]
