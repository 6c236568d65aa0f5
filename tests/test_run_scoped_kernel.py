"""run_extraction.run builds the extraction kernel once per run
(operators.extraction.fused_arrow_kernel): every snapshot shares one
job token, so a Python worker forwards each media ref at most once per
run, and the run's broadcasts are unpersisted when it ends, failed or
not. A forward that fails mid-run, a crash between a snapshot's data
write and its marker, or an input file truncated mid-run leaves the
committed snapshots intact, and a re-run commits every remaining doc
exactly once."""

import os

import pytest
from pyspark import Broadcast

import run_extraction as RE
from basicocr_spark import fixtures as FX
from basicocr_spark import schemas as S
from basicocr_spark.operators import extraction as X
from basicocr_spark.plans import checkpoint as CK
from basicocr_spark.plans.checkpoint import SnapshotWriter, committed_snapshots

N_DOCS, N_REFS, SEED = 60, 30, 7


def _write_docs(spark, docs, path, files=None):
    df = spark.createDataFrame(
        [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans])
         for d, spans in docs],
        schema=S.DOCUMENTS,
    )
    (df if files is None else df.repartition(files)).write.parquet(path)
    return path


def _refs(docs):
    return {s["media_ref"] for _, spans in docs for s in spans if s["kind"] == "media"}


def test_a_worker_forwards_each_ref_once_per_run(spark, tmp_path):
    """Two snapshots over the same refs: each Python worker process logs
    the refs it forwards, and no process forwards a ref twice (a
    per-snapshot kernel re-forwards every ref a worker saw before)."""
    docs = FX.gen_documents(N_DOCS, N_REFS, seed=SEED)
    assert _refs(docs[: N_DOCS // 2]) & _refs(docs[N_DOCS // 2 :])
    by_ref = {r: lg for r, lg, _ in FX.gen_media_logits(N_REFS, SEED)}
    log_dir = tmp_path / "forwarded"
    log_dir.mkdir()

    def forward(refs):
        with open(log_dir / str(os.getpid()), "a") as f:
            f.writelines(f"{r}\n" for r in refs)
        return [by_ref.get(r) for r in refs]

    inp = _write_docs(spark, docs, str(tmp_path / "in"))
    stats = RE.run(spark, inp, str(tmp_path / "out"), batch_size=N_DOCS // 2, recognizer=forward)
    assert len(stats["snapshots"]) == 2 and stats["docs"] == N_DOCS
    logs = {log.name: log.read_text().split() for log in log_dir.iterdir()}
    assert logs
    for pid, refs in logs.items():
        assert len(refs) == len(set(refs)), f"worker {pid} forwarded a ref twice"


def test_injected_recognizer_broadcasts_no_logits(spark):
    """The fixture logits are broadcast only when they are the forward."""
    fwd = lambda refs: [None] * len(refs)  # noqa: E731
    _, with_model = X.fused_arrow_kernel(spark.sparkContext, [], ["w"], ["t"], fwd)
    _, with_fixture = X.fused_arrow_kernel(spark.sparkContext, [], ["w"], ["t"])
    assert (len(with_model), len(with_fixture)) == (2, 3)
    for b in with_model + with_fixture:
        b.unpersist()


def test_forward_failing_in_snapshot_two_then_rerun_is_exact(spark, tmp_path, monkeypatch):
    """The forward raises on a ref only the second snapshot holds: run()
    raises with its broadcasts unpersisted, snapshot 1 stays committed
    and snapshot 2 has no marker; a re-run with a healthy forward
    commits every remaining doc exactly once, and the committed spans
    equal the reference extraction."""
    docs = FX.gen_documents(N_DOCS, N_REFS, seed=SEED)
    first, second = docs[: N_DOCS // 2], docs[N_DOCS // 2 :]
    poison = min(_refs(second) - _refs(first))
    logits_rows = FX.gen_media_logits(N_REFS, SEED)
    by_ref = {r: lg for r, lg, _ in logits_rows}

    def healthy(refs):
        return [by_ref.get(r) for r in refs]

    def failing(refs):
        if poison in refs:
            raise RuntimeError(f"forward failed on {poison}")
        return healthy(refs)

    built, unpersisted = [], []
    build, unpersist = RE.fused_arrow_kernel, Broadcast.unpersist

    def recording_build(*args, **kwargs):
        kernel, broadcasts = build(*args, **kwargs)
        built.extend(broadcasts)
        return kernel, broadcasts

    def recording_unpersist(self, *args, **kwargs):
        unpersisted.append(self)
        return unpersist(self, *args, **kwargs)

    monkeypatch.setattr(RE, "fused_arrow_kernel", recording_build)
    monkeypatch.setattr(Broadcast, "unpersist", recording_unpersist)

    inp = _write_docs(spark, docs, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="forward failed"):
        RE.run(spark, inp, out, batch_size=N_DOCS // 2, recognizer=failing)
    assert len(built) == 2 and all(any(b is u for u in unpersisted) for b in built)
    assert committed_snapshots(out) == ["s000000"]
    assert not os.path.exists(os.path.join(out, "_commits", "s000001"))
    s0 = spark.read.parquet(os.path.join(out, "data", "snapshot=s000000"))
    assert sorted(r.doc_id for r in s0.collect()) == [d for d, _ in first]

    stats = RE.run(spark, inp, out, batch_size=N_DOCS // 2, recognizer=healthy)
    assert stats["docs"] == len(second) and stats["snapshots"] == ["s000001"]
    _assert_exactly_once_and_golden(spark, out, docs, logits_rows)


def test_crash_between_data_write_and_marker_then_rerun_is_exact(spark, tmp_path, monkeypatch):
    """The directory leg crashes after snapshot 2's data and manifest are
    written but before its marker is renamed into place: run() raises
    with its broadcasts unpersisted, snapshot 1 stays committed,
    snapshot 2 stays invisible, and a re-run commits every remaining doc
    exactly once, with the committed spans equal to the reference."""
    docs = FX.gen_documents(N_DOCS, N_REFS, seed=SEED)
    first = docs[: N_DOCS // 2]
    rename = CK.os.rename

    def crashing_rename(src, dst, *args, **kwargs):
        if os.path.basename(dst) == "s000001":
            raise OSError("crashed before the s000001 marker")
        return rename(src, dst, *args, **kwargs)

    built, unpersisted = [], []
    build, unpersist = RE.fused_arrow_kernel, Broadcast.unpersist

    def recording_build(*args, **kwargs):
        kernel, broadcasts = build(*args, **kwargs)
        built.extend(broadcasts)
        return kernel, broadcasts

    def recording_unpersist(self, *args, **kwargs):
        unpersisted.append(self)
        return unpersist(self, *args, **kwargs)

    inp = _write_docs(spark, docs, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    with monkeypatch.context() as m:
        m.setattr(CK.os, "rename", crashing_rename)
        m.setattr(RE, "fused_arrow_kernel", recording_build)
        m.setattr(Broadcast, "unpersist", recording_unpersist)
        with pytest.raises(OSError, match="crashed before the s000001 marker"):
            RE.run(spark, inp, out, batch_size=N_DOCS // 2)
    assert len(built) == 3 and all(any(b is u for u in unpersisted) for b in built)
    assert committed_snapshots(out) == ["s000000"]
    # the torn attempt left its data behind, but no reader sees it
    assert os.path.isdir(os.path.join(out, "data", "snapshot=s000001"))
    committed = SnapshotWriter(spark, out).read_committed()
    assert sorted(r.doc_id for r in committed.collect()) == [d for d, _ in first]

    stats = RE.run(spark, inp, out, batch_size=N_DOCS // 2)
    assert stats["docs"] == N_DOCS - len(first) and stats["snapshots"] == ["s000001"]
    _assert_exactly_once_and_golden(spark, out, docs, FX.gen_media_logits(64, FX.SEED))


def test_truncated_input_file_then_rerun_is_exact(spark, tmp_path, monkeypatch):
    """One of the input's parquet files is truncated (its footer cut off)
    right after snapshot 1 commits: run() raises, snapshot 1 stays
    committed and snapshot 2 has no marker. With the file restored, a
    re-run commits every remaining doc exactly once: the committed
    doc_ids are the input's, each once, with the reference's spans."""
    docs = FX.gen_documents(N_DOCS, N_REFS, seed=SEED)
    inp = _write_docs(spark, docs, str(tmp_path / "in"), files=3)
    victim = os.path.join(inp, sorted(p for p in os.listdir(inp) if p.endswith(".parquet"))[-1])
    with open(victim, "rb") as f:
        intact = f.read()
    commit = SnapshotWriter.commit

    def commit_then_truncate(self, *args, **kwargs):
        info = commit(self, *args, **kwargs)
        with open(victim, "wb") as f:
            f.write(intact[: len(intact) // 2])
        return info

    out = str(tmp_path / "out")
    with monkeypatch.context() as m:
        m.setattr(SnapshotWriter, "commit", commit_then_truncate)
        with pytest.raises(Exception, match="FAILED_READ_FILE") as failed:
            RE.run(spark, inp, out, batch_size=N_DOCS // 2)
    assert os.path.basename(victim) in str(failed.value)
    assert committed_snapshots(out) == ["s000000"]
    assert not os.path.exists(os.path.join(out, "_commits", "s000001"))
    committed = SnapshotWriter(spark, out).read_committed()
    assert sorted(r.doc_id for r in committed.collect()) == sorted(d for d, _ in docs)[: N_DOCS // 2]

    with open(victim, "wb") as f:
        f.write(intact)
    stats = RE.run(spark, inp, out, batch_size=N_DOCS // 2)
    assert stats["docs"] == N_DOCS - N_DOCS // 2 and stats["snapshots"] == ["s000001"]
    _assert_exactly_once_and_golden(spark, out, docs, FX.gen_media_logits(64, FX.SEED))


def _assert_exactly_once_and_golden(spark, out, docs, logits_rows):
    """Every input doc is committed once, with the reference's spans."""
    committed = SnapshotWriter(spark, out).read_committed()
    assert committed.count() == committed.select("doc_id").distinct().count() == len(docs)
    golden = FX.golden_extraction(docs, logits_rows, FX.gen_dictionary(FX.SEED))
    want = {
        d: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]
        for d, spans in golden
    }
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
        for r in committed.collect()
    }
    assert got == want
