"""The three benchmark workloads.

Each workload generates its inputs from the seed (gen.py), runs timed
passes through the program's public entry points, checks their output
against an independent oracle, and, in a traced run, reports per-layer
numbers measured from outside the program.

A pass is the unit the closed loop repeats: one client, the next pass
starts when the previous one has finished.
"""

from __future__ import annotations

import functools
import math
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager

import gen
import probes

# flagship_text: base docs x replication, the bench.py corpus shape
FLAGSHIP_BASE_DOCS = 5_000
FLAGSHIP_REPLICATION = 10
FLAGSHIP_PARTITIONS = 16

# media_skew_job: fixtures.gen_documents corpus through run_extraction.run
MEDIA_DOCS = 1_000
MEDIA_REFS = 200
MEDIA_BATCH = 700  # two snapshots: 700 + 300 docs
MEDIA_MAX_SPANS = 64
MEDIA_FILES = 4
MEDIA_SAMPLE = 300  # light docs checked per run, besides every heavy doc

# curation_catalog: the relational/events/documents tables at this share
# of the sf0.1 row counts
CATALOG_SCALE = 0.04
CATALOG_QUERIES = [
    "q5_region_revenue",
    "events_sessionization",
    "events_asof_join",
    "docs_minhash_lsh_pairs",
    "docs_near_dup_verified",
    "docs_exact_substring_removal",
    "docs_segment_dedup",
    "docs_quality_classifier",
]

# layer replays: fixed-size samples of the workload's own input
REPLAY_TEXT_SPANS = 3_000
REPLAY_TOKENS = 50
REPLAY_MIN_S = 0.1  # repeat each replay until it has run this long
REPLAY_REPS = 3


@contextmanager
def memo_reference_correction():
    """reference.correct_word is pure but costs ~8 ms a call; the oracles
    call it once per media span. Memoize it for the duration of an oracle
    computation only (the program and the layer replays never see it)."""
    from basicocr_spark import reference as R

    orig = R.correct_word
    memo: dict = {}

    def correct_word(target, dict_entries, max_cost=3):
        key = (target, id(dict_entries), max_cost)
        if key not in memo:
            memo[key] = orig(target, dict_entries, max_cost)
        return memo[key]

    R.correct_word = correct_word
    try:
        yield
    finally:
        R.correct_word = orig


def timed_repeat(fn) -> float:
    """Median seconds of one fn() call: calls are batched until a batch
    runs REPLAY_MIN_S, REPLAY_REPS batches are timed."""
    fn()  # warm caches the layer builds lazily
    n, t = 1, 0.0
    while True:
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        t = time.perf_counter() - t0
        if t >= REPLAY_MIN_S:
            break
        n *= 2
    times = [t / n]
    for _ in range(REPLAY_REPS - 1):
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        times.append((time.perf_counter() - t0) / n)
    return statistics.median(times)


class Workload:
    name = ""
    cold_job = False  # timed as one job in a fresh JVM, without warm-up

    def __init__(self, spark, work: str, seed: int, tracer: probes.Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.input_bytes = 0
        self.n_docs = 0
        self.details: dict = {}  # workload figures for the context line

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, traced: bool) -> dict:
        """One timed pass -> {"wall": s, "ok": bool, ...}."""
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """(attempted, failed) against the oracle; never timed."""
        raise NotImplementedError

    def layers(self, traced_passes: list[dict]) -> dict[str, float]:
        raise NotImplementedError

    def pass_stages(self, p: dict) -> list[dict]:
        """Spark stages of a traced pass's timed region."""
        return p["stages"]["pass"]

    # -- shared ------------------------------------------------------------

    def _group(self, label: str) -> str:
        g = f"bench.{label}"
        self.spark.sparkContext.setJobGroup(g, g)
        return g

    def _span_stats(self, corpus_df):
        """(text spans, media spans, distinct media refs) of an
        interleaved input, computed in Spark (untimed)."""
        from pyspark.sql import functions as F

        s = corpus_df.select(F.explode("spans").alias("s")).select("s.kind", "s.media_ref")
        r = s.agg(
            F.sum((F.col("kind") == "text").cast("long")).alias("t"),
            F.sum((F.col("kind") != "text").cast("long")).alias("m"),
            F.countDistinct(F.when(F.col("kind") != "text", F.col("media_ref"))).alias("r"),
        ).collect()[0]
        return int(r["t"]), int(r["m"]), int(r["r"])

    def _extraction_layers(self, traced_passes, corpus_df, texts, logits_by_ref, dict_lines,
                           job_shares) -> dict:
        """Layer metrics of the extraction kernel.

        A fixed sample of the workload's input is replayed in-process
        through the kernel's own calls: the text leg
        (make_vectorized_extractor), CTC decode (decode_ctc_numpy) and
        correction (reference.correct_word). extraction.* comes from the
        traced passes' MapInArrow stages; the unattributed part is that
        stage time minus the replayed text leg and a modelled media leg.
        The kernel memoizes recognition per worker process and job, so
        the model charges one decode + correction per distinct ref each
        worker meets: m media spans of a job over w workers and R refs
        drawn uniformly meet w * R * (1 - (1 - 1/R) ** (m / w)) refs.
        `job_shares` is each kernel job's share of the input's docs."""
        import pandas as pd

        from basicocr_spark import fixtures as FX
        from basicocr_spark import reference as R
        from basicocr_spark.functions.ctc import decode_ctc_numpy
        from basicocr_spark.operators.boilerplate_vec import make_vectorized_extractor

        out = {}
        with self.tracer.span("replay"):
            sample = pd.Series(texts[:REPLAY_TEXT_SPANS], dtype=object)
            extract = make_vectorized_extractor(FX.STOP_TERMS)
            with self.tracer.span("boilerplate_vec.extract", spans=len(sample)):
                t = timed_repeat(lambda: extract(sample))
            text_ms_per_span = t * 1e3 / len(sample)

            logits = list(logits_by_ref.values())
            with self.tracer.span("ctc.decode_ctc_numpy", refs=len(logits)):
                t = timed_repeat(lambda: [decode_ctc_numpy(lg, R.DEFAULT_ALPHABET) for lg in logits])
            decode_ms_per_ref = t * 1e3 / len(logits)

            tokens = sorted({decode_ctc_numpy(lg, R.DEFAULT_ALPHABET) for lg in logits} - {""})
            some = tokens[:REPLAY_TOKENS]
            entries = R.load_dictionary(dict_lines)
            with self.tracer.span("reference.correct_word", tokens=len(some)):
                t = timed_repeat(lambda: [R.correct_word(tok, entries, 3) for tok in some])
            correct_ms_per_token = t * 1e3 / len(some)

        n_text, n_media, n_refs = self._span_stats(corpus_df)
        w, r = self.spark.sparkContext.defaultParallelism, max(n_refs, 1)
        met = sum(w * r * (1 - (1 - 1 / r) ** (n_media * f / w)) for f in job_shares)
        media_ms = met * (decode_ms_per_ref + correct_ms_per_token)
        stage_ms = statistics.median([
            sum(s["run_s"] for s in self.pass_stages(p) if "MapInArrow" in s["ops"]) * 1e3
            for p in traced_passes
        ])
        per_10k = 1e4 / (n_text + n_media)
        return {
            "boilerplate_vec.ms_per_10k_text_spans": text_ms_per_span * 1e4,
            "ctc.decode_ms_per_1k_refs": decode_ms_per_ref * 1e3,
            "correct.ms_per_1k_tokens": correct_ms_per_token * 1e3,
            "correct.distinct_tokens": float(len(tokens)),
            "recognition.media_spans_per_distinct_ref": n_media / r,
            "extraction.stage_s_per_10k_spans": stage_ms / 1e3 * per_10k,
            "extraction.unattributed_ms_per_10k_spans":
                (stage_ms - text_ms_per_span * n_text - media_ms) * per_10k,
        }

    def _spark_layers(self, traced_passes) -> dict:
        """spark.* per pass (median over traced passes)."""
        totals = [probes.spark_totals(self.pass_stages(p)) for p in traced_passes]
        names = {
            "run_s": "spark.executor_run_s",
            "cpu_s": "spark.executor_cpu_s",
            "gc_s": "spark.jvm_gc_s",
            "shuffle_write_mb": "spark.shuffle_write_mb",
            "spill_mb": "spark.spill_mb",
            "tasks": "spark.tasks",
            "task_skew": "spark.task_skew",
        }
        return {m: statistics.median([t[k] for t in totals]) for k, m in names.items()}


def _checksum(col: str):
    """Order-insensitive sum of per-doc 64-bit span-array hashes, kept in
    range so the sum cannot overflow."""
    from pyspark.sql import functions as F

    return F.sum(F.pmod(F.xxhash64(col), F.lit(1_000_000_007)))


def _expected_rows(spans_by_doc: list[dict]):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans_by_doc]


# ---------------------------------------------------------------------------


class FlagshipText(Workload):
    """Replicated sf0.1-shaped documents through interleave_documents;
    timed region: parquet scan -> extract_documents_fused_arrow ->
    aggregate."""

    name = "flagship_text"

    def generate(self) -> None:
        import __spark_entry__ as E
        from pyspark.sql import functions as F

        from basicocr_spark import fixtures as FX

        k = FLAGSHIP_REPLICATION
        base_path = os.path.join(self.work, "base", "documents.parquet")
        gen.write_table(gen.documents_table(self.seed, FLAGSHIP_BASE_DOCS), base_path)
        flat = self.spark.read.parquet(base_path)
        # replica r of base doc b is doc r * FLAGSHIP_BASE_DOCS + b: its
        # media ref (doc_id % 40) is its base doc's, so all replicas of a
        # base doc have one expected output
        rep = flat.select("*", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("rep")).withColumn(
            "doc_id", F.col("rep") * FLAGSHIP_BASE_DOCS + F.col("doc_id")
        )
        self.corpus = os.path.join(self.work, "corpus")
        E.interleave_documents(rep.drop("rep")).repartitionByRange(
            FLAGSHIP_PARTITIONS, "doc_id"
        ).write.mode("overwrite").parquet(self.corpus)
        self.base_path = base_path
        self.input_bytes = _du(self.corpus)
        self.n_docs = FLAGSHIP_BASE_DOCS * k
        self.logits_rows = FX.gen_media_logits(E.N_ENTRY_MEDIA, FX.SEED)
        self.dict_lines = FX.gen_dictionary(FX.SEED)
        self._pass_no = 0
        self.checksums: list[int] = []

    def _extract(self):
        from basicocr_spark import fixtures as FX
        from basicocr_spark.operators.extraction import extract_documents_fused_arrow

        docs = self.spark.read.parquet(self.corpus)
        return extract_documents_fused_arrow(docs, self.logits_rows, self.dict_lines, FX.STOP_TERMS)

    def run_pass(self, traced: bool) -> dict:
        """The aggregate is a checksum of every output doc, so each pass's
        output is checked against the oracle (check())."""
        from pyspark.sql import functions as F

        self._pass_no += 1
        group = self._group(f"pass{self._pass_no}")
        t0 = time.perf_counter()
        r = self._extract().agg(
            F.count(F.lit(1)).alias("docs"), _checksum("spans").alias("sum")
        ).collect()[0]
        wall = time.perf_counter() - t0
        self.checksums.append(int(r["sum"]))
        return {"wall": wall, "groups": {"pass": (None, group)}, "ok": r["docs"] == self.n_docs}

    def _expected(self):
        """(base doc id, reference.extract_document spans) per base doc."""
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        import __spark_entry__ as E
        from basicocr_spark import fixtures as FX
        from basicocr_spark import reference as R

        by_ref = {r: lg for r, lg, _ in self.logits_rows}
        entries = R.load_dictionary(self.dict_lines)
        nav = '<div class="nav"><a href="/home">home</a> <a href="/about">about</a></div>'
        footer = '<div class="footer">all rights reserved</div>'
        expected = []
        with memo_reference_correction():
            for d in pq.read_table(self.base_path).to_pylist():
                spans = [
                    {"kind": "text", "text": f"{nav}\n<p>{d['text']}</p>", "media_ref": None, "offset": 1},
                    {"kind": "media", "text": None,
                     "media_ref": f"m{d['doc_id'] % E.N_ENTRY_MEDIA:06d}", "offset": 2},
                    {"kind": "text", "text": footer, "media_ref": None, "offset": 3},
                ]
                out = R.extract_document(spans, by_ref, entries, FX.STOP_TERMS)
                expected.append((d["doc_id"], _expected_rows(out)))
        span = T.StructType(
            [
                T.StructField("kind", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("media_ref", T.StringType()),
                T.StructField("order", T.IntegerType()),
            ]
        )
        return self.spark.createDataFrame(
            expected,
            T.StructType([T.StructField("base", T.LongType()), T.StructField("exp", T.ArrayType(span))]),
        )

    def check(self) -> tuple[int, int]:
        """Every output doc of every pass equals reference.extract_document
        for its base doc: each pass's checksum must equal the replicated
        reference's. On a mismatch one more pass joins the output with
        the reference to count the docs that differ."""
        from pyspark.sql import functions as F

        exp = self._expected()
        want = exp.agg(_checksum("exp").alias("sum")).collect()[0]["sum"] * FLAGSHIP_REPLICATION
        if all(c == want for c in self.checksums):
            return self.n_docs, 0
        out = self._extract().select(
            (F.col("doc_id").cast("long") % FLAGSHIP_BASE_DOCS).alias("base"), "spans"
        )
        bad = (
            out.join(F.broadcast(exp), "base", "left")
            .filter(~F.col("spans").eqNullSafe(F.col("exp")))
            .count()
        )
        return self.n_docs, max(bad, 1)

    def layers(self, traced_passes) -> dict:
        import pyarrow.parquet as pq

        sample = pq.ParquetDataset(self.corpus).read().slice(0, REPLAY_TEXT_SPANS)
        texts = [s["text"] for row in sample.column("spans").to_pylist() for s in row if s["kind"] == "text"]
        return self._extraction_layers(
            traced_passes, self.spark.read.parquet(self.corpus), texts,
            {r: lg for r, lg, _ in self.logits_rows}, self.dict_lines, [1.0],
        ) | self._spark_layers(traced_passes)


# ---------------------------------------------------------------------------


class MediaSkewJob(Workload):
    """fixtures.gen_documents corpus (heavy-tailed span counts, shuffled
    storage order, 30% media spans) through run_extraction.run in several
    snapshots with a benchmark-owned recognizer forward, then an
    idempotent re-run that must commit nothing."""

    name = "media_skew_job"
    cold_job = True

    def generate(self) -> None:
        from basicocr_spark import fixtures as FX

        self.docs = FX.gen_documents(MEDIA_DOCS, MEDIA_REFS, seed=self.seed, skew=True)
        self.input_dir = os.path.join(self.work, "input")
        self.input_bytes = gen.write_interleaved(
            self.docs, self.input_dir, -(-MEDIA_DOCS // MEDIA_FILES)
        )
        self.n_docs = len(self.docs)
        self.logits_rows = FX.gen_media_logits(MEDIA_REFS, self.seed)
        by_ref = {r: lg for r, lg, _ in self.logits_rows}
        self.forward = functools.partial(_lookup_forward, by_ref)
        self.dict_lines = FX.gen_dictionary(FX.SEED)  # run_extraction's dictionary
        self._pass_no = 0
        self.last_root = None
        self.commit_times: list[float] = []
        self.pending_times: list[float] = []

    def run_pass(self, traced: bool) -> dict:
        import run_extraction as RE

        self._pass_no += 1
        root = os.path.join(self.work, "out", f"pass{self._pass_no}")
        if self.last_root is not None:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.last_root = root
        self.commit_times, self.pending_times = [], []
        with self._checkpoint_wrappers(traced):
            group = self._group(f"pass{self._pass_no}")
            t0 = time.perf_counter()
            stats = RE.run(self.spark, self.input_dir, root, batch_size=MEDIA_BATCH,
                           max_spans=MEDIA_MAX_SPANS, recognizer=self.forward)
            wall = time.perf_counter() - t0
            commits, pendings = list(self.commit_times), list(self.pending_times)
            rgroup = self._group(f"resume{self._pass_no}")
            t0 = time.perf_counter()
            again = RE.run(self.spark, self.input_dir, root, batch_size=MEDIA_BATCH,
                           max_spans=MEDIA_MAX_SPANS, recognizer=self.forward)
            resume = time.perf_counter() - t0
        return {
            "wall": wall,
            "resume": resume,
            "snapshots": len(stats["snapshots"]),
            "groups": {"pass": (None, group), "resume": (None, rgroup)},
            "commits": commits,
            "pendings": pendings,
            "bytes_written": _du(root),
            "ok": stats["docs"] == self.n_docs and again["docs"] == 0,
        }

    @contextmanager
    def _checkpoint_wrappers(self, traced: bool):
        """Time SnapshotWriter.commit / pending from outside the class by
        wrapping the methods for the duration of a traced pass."""
        if not traced:
            yield
            return
        from basicocr_spark.plans.checkpoint import SnapshotWriter

        orig_commit, orig_pending = SnapshotWriter.commit, SnapshotWriter.pending
        tracer, bench = self.tracer, self

        def commit(writer, extracted, snapshot_id=None):
            with tracer.span("checkpoint.commit"):
                t0 = time.perf_counter()
                try:
                    return orig_commit(writer, extracted, snapshot_id)
                finally:
                    bench.commit_times.append(time.perf_counter() - t0)

        def pending(writer, docs):
            with tracer.span("checkpoint.pending"):
                t0 = time.perf_counter()
                try:
                    return orig_pending(writer, docs)
                finally:
                    bench.pending_times.append(time.perf_counter() - t0)

        SnapshotWriter.commit, SnapshotWriter.pending = commit, pending
        try:
            yield
        finally:
            SnapshotWriter.commit, SnapshotWriter.pending = orig_commit, orig_pending

    def _sample_ids(self) -> tuple[list[str], list[str]]:
        heavy = [d for d, spans in self.docs if len(spans) > MEDIA_MAX_SPANS]
        light = sorted(d for d, spans in self.docs if len(spans) <= MEDIA_MAX_SPANS)
        rng = random.Random(self.seed * 1_000_003 + 7)
        return heavy, rng.sample(light, min(MEDIA_SAMPLE, len(light)))

    def check(self) -> tuple[int, int]:
        """read_committed() equals fixtures.golden_extraction on every
        salted heavy doc and a seeded sample of the rest; each doc is
        committed exactly once."""
        from pyspark.sql import functions as F

        from basicocr_spark import fixtures as FX
        from basicocr_spark.plans.checkpoint import SnapshotWriter

        heavy, light = self._sample_ids()
        ids = set(heavy) | set(light)
        chosen = [(d, s) for d, s in self.docs if d in ids]
        with memo_reference_correction():
            golden = dict(
                FX.golden_extraction(chosen, self.logits_rows, self.dict_lines, FX.STOP_TERMS)
            )
        committed = SnapshotWriter(self.spark, self.last_root).read_committed()
        counts = committed.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("d")
        ).collect()[0]
        rows = committed.filter(F.col("doc_id").isin(sorted(ids))).collect()
        got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in rows}
        failed = sum(got.get(d) != _expected_rows(golden[d]) for d in ids)
        exactly_once = counts["n"] == counts["d"] == self.n_docs
        return len(ids) + 1, failed + (0 if exactly_once else 1)

    def layers(self, traced_passes) -> dict:
        from basicocr_spark import schemas as S

        texts = [s["text"] for _, spans in self.docs for s in spans if s["kind"] == "text"]
        batches = [min(MEDIA_BATCH, self.n_docs - i) for i in range(0, self.n_docs, MEDIA_BATCH)]
        out = self._extraction_layers(
            traced_passes, self.spark.read.schema(S.DOCUMENTS).parquet(self.input_dir), texts,
            {r: lg for r, lg, _ in self.logits_rows}, self.dict_lines,
            [b / self.n_docs for b in batches],
        )
        sizes = [len(spans) for _, spans in self.docs]
        heavy = [n for n in sizes if n > MEDIA_MAX_SPANS]
        out["salting.heavy_docs"] = float(len(heavy))
        out["salting.slices"] = float(sum(math.ceil(n / MEDIA_MAX_SPANS) for n in heavy))
        out["salting.merge_shuffle_mb"] = statistics.median(
            [sum(s["shuffle_write_mb"] for s in self.pass_stages(p) if "MapInArrow" in s["ops"])
             for p in traced_passes]
        )
        commits = [t for p in traced_passes for t in p["commits"]]
        out["checkpoint.snapshots"] = statistics.median([p["snapshots"] for p in traced_passes])
        out["checkpoint.commit_s_p50"] = statistics.median(commits)
        out["checkpoint.commit_s_total"] = statistics.median([sum(p["commits"]) for p in traced_passes])
        out["checkpoint.pending_s_total"] = statistics.median([sum(p["pendings"]) for p in traced_passes])
        out["checkpoint.bytes_written_per_input_byte"] = statistics.median(
            [p["bytes_written"] / self.input_bytes for p in traced_passes]
        )
        out["checkpoint.resume_s"] = statistics.median([p["resume"] for p in traced_passes])
        out |= self._spark_layers(traced_passes)
        return out


def _lookup_forward(by_ref: dict, refs: list) -> list:
    """The benchmark's recognizer forward: fixture logits per media ref
    (resolve_recognizer protocol: list[ref] -> list[logits | None])."""
    return [by_ref.get(r) for r in refs]


# ---------------------------------------------------------------------------


class CurationCatalog(Workload):
    """A fixed set of catalog queries from __spark_entry__.queries() over
    seeded sf0.1-shaped tables, timed as one catalog job in a fresh JVM.
    Each query's rows are collected (at most a few thousand) so the
    oracle can check them after the timed region."""

    name = "curation_catalog"
    cold_job = True

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "tables")
        s = CATALOG_SCALE
        tables = gen.relational_tables(self.seed, s)
        tables["events"] = gen.events_table(self.seed, int(100_000 * s))
        tables["documents"] = gen.documents_table(self.seed, int(5_000 * s))
        self.input_bytes = sum(
            gen.write_table(t, os.path.join(self.sf_dir, f"{n}.parquet")) for n, t in tables.items()
        )
        self.n_docs = tables["documents"].num_rows
        self._pass_no = 0
        self.results: dict[str, tuple] = {}

    def run_pass(self, traced: bool) -> dict:
        import __spark_entry__ as E
        from basicocr_spark import queries as Q

        qmap = E.queries()
        self._pass_no += 1
        per_query, groups = {}, {}
        t0 = time.perf_counter()
        for name in CATALOG_QUERIES:
            # a timed pass never reuses state memoized by an earlier one
            Q.clear_sweep_cache(self.spark)
            group = self._group(f"pass{self._pass_no}.{name}")
            with self.tracer.span(f"queries.{name}") as sp:
                q0 = time.perf_counter()
                sdf = qmap[name](self.spark, self.sf_dir)
                self.results[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])
                per_query[name] = time.perf_counter() - q0
            groups[name] = (sp["id"] if sp is not None else None, group)
        wall = time.perf_counter() - t0
        return {"wall": wall, "per_query": per_query, "groups": groups, "ok": True}

    def check(self) -> tuple[int, int]:
        """Each query's rows from the last pass match its oracle_sql()
        under DuckDB, compared as tests/test_driver_contract.py does
        (columns, row count, sorted multiset of rounded cells)."""
        import duckdb

        import __spark_entry__ as E

        con = duckdb.connect()
        con.execute(f"SET threads = {self.spark.sparkContext.defaultParallelism}")
        for t in os.listdir(self.sf_dir):
            con.execute(
                f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                f"SELECT * FROM '{os.path.join(self.sf_dir, t)}'"
            )
        oracles = E.oracle_sql()
        failed = 0
        took = self.details["oracle_s"] = {}
        for name in CATALOG_QUERIES:
            s_cols, s_rows = self.results[name]
            t0 = time.perf_counter()
            rel = con.sql(oracles[name])
            d_cols, d_rows = rel.columns, rel.fetchall()
            took[name] = time.perf_counter() - t0
            same_shape = sorted(s_cols) == sorted(d_cols) and len(s_rows) == len(d_rows)
            ok = same_shape and _multiset(s_cols, s_rows) == _multiset(d_cols, d_rows)
            if same_shape and not ok and name == "q5_region_revenue":
                ties = _q5_half_cent_ties(s_cols, s_rows, d_cols, d_rows, con)
                if ties is not None:
                    self.details["q5_half_cent_ties"] = ties
                    ok = True
            if not ok:
                self.details.setdefault("oracle_mismatch", []).append(name)
            failed += not ok
        con.close()
        return len(CATALOG_QUERIES), failed

    def pass_stages(self, p: dict) -> list[dict]:
        return [s for stages in p["stages"].values() for s in stages]

    def layers(self, traced_passes) -> dict:
        out = {}
        for name in CATALOG_QUERIES:
            out[f"queries.{name}.s"] = statistics.median([p["per_query"][name] for p in traced_passes])
            out[f"queries.{name}.shuffle_mb"] = statistics.median(
                [sum(s["shuffle_write_mb"] for s in p["stages"][name]) for p in traced_passes]
            )
        out |= self._spark_layers(traced_passes)
        return out


# Known defect, reported rather than failed: q5_region_revenue and its
# DuckDB oracle both round a DOUBLE sum to cents. Where a group's exact
# decimal revenue ends in half a cent, float summation order decides the
# rounding and the two engines can differ by 0.01. Such a cell counts in
# the context line (q5_half_cent_ties); any other difference fails q5.
_Q5_EXACT_SQL = """
SELECT r_name, n_name,
       sum(CAST(l_extendedprice AS DECIMAL(18, 2))
           * (1 - CAST(l_discount AS DECIMAL(18, 2)))) AS exact
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def _q5_half_cent_ties(s_cols, s_rows, d_cols, d_rows, con) -> int | None:
    """Number of revenue cells that differ only by a half-cent tie's
    rounding, or None if the results differ in any other way."""
    from decimal import Decimal

    def keyed(cols, rows):
        ix = {c: i for i, c in enumerate(cols)}
        return {
            (r[ix["r_name"]], r[ix["n_name"]]): (r[ix["revenue"]], r[ix["n_items"]]) for r in rows
        }

    spark_res, duck_res = keyed(s_cols, s_rows), keyed(d_cols, d_rows)
    if spark_res.keys() != duck_res.keys():
        return None
    exact = {(r, n): e for r, n, e in con.sql(_Q5_EXACT_SQL).fetchall()}
    ties = 0
    for k, (rev, items) in spark_res.items():
        d_rev, d_items = duck_res[k]
        if items != d_items:
            return None
        if rev == d_rev:
            continue
        if round(abs(rev - d_rev), 6) != 0.01 or (exact[k] * 100) % 1 != Decimal("0.5"):
            return None
        ties += 1
    return ties


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


WORKLOADS = {w.name: w for w in (FlagshipText, MediaSkewJob, CurationCatalog)}
