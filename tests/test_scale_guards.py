"""Scale-hardening guards flagged in round 1: the exact-Jaccard join
must not build quadratic hot-token buckets (prefix filtering), the
brute-force cosine top-k must pre-reduce per partition before the global
window, and an LSH mega-bucket (byte-identical doc flood) must not
generate quadratic candidate pairs."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basicocr_spark import queries as Q  # noqa: E402


def _hot_token_corpus(spark):
    """62 docs all sharing one universal token; docs 100/101 are
    token-identical (the only true J>=0.8 pair). Every doc also carries
    8 unique tokens so prefixes are pure rare-token territory."""
    rows = []
    for i in range(60):
        rows.append((i, "common " + " ".join(f"u{i}_{j}" for j in range(8))))
    dup = "common " + " ".join(f"dup_{j}" for j in range(8))
    rows.append((100, dup))
    rows.append((101, dup))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_prefix_candidates_bounded_and_exact(spark):
    from basicocr_spark.functions import textstats as TS

    d = _hot_token_corpus(spark)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(TS.tokens(F.col("text")))).alias("word")
    )
    cands = {(r[0], r[1]) for r in Q._jaccard_prefix_candidates(toks).collect()}
    # the universal token has df=62 and never lands in a prefix: the only
    # candidate is the planted duplicate pair, not the 62*61/2 all-pairs
    assert cands == {(100, 101)}


def test_lsh_bucket_guard_bounds_duplicate_flood(spark, tmp_path):
    """500 byte-identical docs land in one bucket per band; the guard
    must emit star pairs (n-1 per bucket -> 499 distinct candidates),
    not the 124,750 all-pairs expansion — while keeping the clone set
    one connected component."""
    rows = [(i, "identical duplicate flood document body text") for i in range(500)]
    # plus a normal near-dup pair and unique docs, to check the small-
    # bucket path still does exact pairing alongside the flood
    rows.append((1000, "some unique words alpha beta gamma delta"))
    rows.append((1001, "some unique words alpha beta gamma delta"))
    rows.append((1002, "entirely different content nothing shared here"))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(sf / "documents.parquet")
    )
    pairs = {(r[0], r[1]) for r in Q.docs_minhash_lsh_pairs(spark, str(sf)).collect()}
    flood = {p for p in pairs if p[1] < 1000}
    assert flood == {(0, i) for i in range(1, 500)}  # star around min id
    assert (1000, 1001) in pairs
    assert not any(1002 in p for p in pairs)

    # connectivity survives the cap: the flood is still ONE cluster
    clusters = {
        r["doc_id"]: r["cluster_rep"]
        for r in Q.docs_dup_clusters(spark, str(sf)).collect()
    }
    assert {clusters[i] for i in range(500)} == {0}
    assert clusters[1000] == clusters[1001] == 1000
    assert clusters[1002] == 1002


def test_dup_clusters_reliable_checkpoint_path(spark, tmp_path):
    """reliable=True must route every iterative round through the
    storage-backed Spark checkpoint dir (files actually land there) and
    produce the identical clustering."""
    sf = "/root/testdata/sf0.001"
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    want = sorted(tuple(r) for r in Q.docs_dup_clusters(spark, sf).collect())
    got = sorted(tuple(r) for r in Q.docs_dup_clusters(spark, sf, reliable=True).collect())
    assert got == want
    ckpt_files = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert ckpt_files, "reliable=True wrote nothing to the checkpoint dir"


def test_emb_topk_prereduces_before_window(spark):
    """The scored corpus must hit a MapInPandas local top-k BEFORE the
    window's Exchange — no reducer ever sees the full scored set — and
    the pre-reduced result must equal the plain global-window answer."""
    sf = "/root/testdata/sf0.001"
    df = Q.emb_cosine_topk(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # the local reduction sits upstream of the window's shuffle
    assert plan.index("Window") < plan.index("MapInPandas")  # toString prints top-down

    # equality vs the unreduced window form
    from pyspark.sql import Window as W
    from basicocr_spark.functions import vectors as V

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    probes = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            V.cosine_rounded_fast(F.col("q_emb"), F.col("embedding"), 6).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    want = sorted(
        tuple(r)
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "vec_id", "cos", F.col("rk").cast("long").alias("rk"))
        .collect()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == want


def test_ranking_queries_prereduce_before_window(spark):
    """word-freq / CJK word-freq / n-gram rankings must carry the
    map-side local top-k (MapInPandas) upstream of their ranking window
    — the counts table shuffles k*partitions rows, never the full
    vocab/n-gram table."""
    sf = "/root/testdata/sf0.001"
    for q in (Q.docs_word_freq, Q.docs_word_freq_cjk, Q.docs_ngram_counts):
        plan = q(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, q.__name__
        assert plan.index("Window") < plan.index("MapInPandas"), q.__name__


def test_jaccard_prefix_result_equals_naive(spark, tmp_path):
    """The prefix-filtered query must produce exactly the naive all-pairs
    answer on a corpus with near-misses straddling the threshold."""
    rows = []
    # families of docs with controlled overlap around J = 0.8
    base = [f"w{j}" for j in range(10)]
    rows.append((0, " ".join(base)))
    rows.append((1, " ".join(base)))  # J(0,1) = 1.0
    rows.append((2, " ".join(base[:9] + ["x2"])))  # J = 9/11 ~ 0.818
    rows.append((3, " ".join(base[:8] + ["x3", "y3"])))  # J = 8/12 ~ 0.667
    rows.append((4, " ".join(base[:9])))  # J(0,4) = 9/10 = 0.9
    for i in range(5, 25):
        rows.append((i, " ".join(f"z{i}_{j}" for j in range(10))))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(sf / "documents.parquet")
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in Q.docs_jaccard_pairs(spark, str(sf)).collect()}

    # naive truth
    sets = {i: set(t.split()) for i, t in rows}
    want = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter, union = len(sets[a] & sets[b]), len(sets[a] | sets[b])
            if inter * 5 >= union * 4:  # exact J >= 0.8, same as the query
                want[(a, b)] = round(inter / union, 6)
    assert got == want
    assert (0, 1) in got and (0, 4) in got and (0, 2) in got and (0, 3) not in got


def test_lsh_cap_firing_is_observable(spark):
    """The bucket cap must not fire silently: an Observation threaded
    through _bucket_pair_join records how many rows sat in capped
    buckets and the max bucket size, at action time, with zero extra
    passes — and stays zero when no bucket exceeds the cap."""
    from pyspark.sql import Observation

    rows = [(i, 0, 7) for i in range(100)] + [(i, 1, i) for i in range(100)]
    banded = spark.createDataFrame(rows, "doc_id long, band int, sig long")
    obs = Observation("lsh_cap")
    pairs = Q._bucket_pair_join(banded, "doc_id", "a", "b", cap=64, observation=obs)
    n_pairs = pairs.count()
    assert n_pairs == 99  # star pairs only for the 100-member bucket
    assert obs.get["rows_in_capped_buckets"] == 100
    assert obs.get["max_bucket"] == 100

    obs2 = Observation("lsh_cap_quiet")
    quiet = spark.createDataFrame(
        [(i, 0, i % 50) for i in range(100)], "doc_id long, band int, sig long"
    )
    Q._bucket_pair_join(quiet, "doc_id", "a", "b", cap=64, observation=obs2).count()
    assert obs2.get["rows_in_capped_buckets"] == 0


def test_local_topk_keeps_null_group_keys(spark):
    """_local_topk must not silently drop rows whose group key is null
    (pandas groupby defaults to dropna=True — a correctness trap for
    future callers)."""
    df = spark.createDataFrame(
        [(None, 5, "a"), (None, 3, "b"), ("g", 9, "c"), ("g", 1, "d"), (None, 4, "e")],
        "grp string, score long, id string",
    ).repartition(1)
    out = Q._local_topk(df, 2, ["grp"], ["score", "id"], [False, True]).collect()
    got = {(r["grp"], r["score"]) for r in out}
    assert (None, 5) in got and (None, 4) in got, got
    assert ("g", 9) in got and ("g", 1) in got


def test_centroid_kernel_matches_explode_form_on_nulls_and_ragged(spark):
    """Review finding: the vector-sum kernel must reproduce the
    posexplode + avg null semantics exactly — null vectors contribute
    nothing (an all-null label is absent), null ELEMENTS are skipped per
    dimension, ragged lengths contribute only to their own dims."""
    from basicocr_spark.functions import vectors as V

    rows = [
        ("a", [1.0, 2.0, 3.0]),
        ("a", None),
        ("a", [3.0, None, 5.0]),
        ("b", [10.0, 20.0]),
        ("b", [1.0, 2.0, 30.0]),  # ragged within label
        ("c", None),  # label with only nulls: absent
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>").repartition(2)

    explode_form = (
        df.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    partials = V.group_vector_sums_df(df, "label", "embedding")
    kernel_form = (
        partials.select("label", F.posexplode(F.arrays_zip("sums", "counts")).alias("dim", "sc"))
        .groupBy("label", "dim")
        .agg(F.sum("sc.sums").alias("s"), F.sum("sc.counts").alias("n"))
        .select("label", "dim", F.when(F.col("n") > 0, F.col("s") / F.col("n")).alias("c"))
    )
    want = {(r["label"], r["dim"]): r["c"] for r in explode_form.collect()}
    got = {(r["label"], r["dim"]): r["c"] for r in kernel_form.collect()}
    assert set(got) == set(want)
    for k in want:
        if want[k] is None:
            assert got[k] is None, k
        else:
            assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])
    assert not any(lbl == "c" for (lbl, _) in got)


def test_simhash_near_dup_bands_are_exact_for_ball_3(spark):
    """4 byte-bands over 32 bits: any pair at hamming distance <= 3
    shares an intact byte (pigeonhole), so the banded candidate join
    must recover EXACTLY the brute-force <=3 ball."""
    from itertools import combinations

    from basicocr_spark.functions import hash_kernels as HK

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in Q.docs_simhash_near_dup(spark, sf).collect()
    }
    sims = {
        r["doc_id"]: r["simhash"]
        for r in HK.simhash_df(
            spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        ).collect()
    }
    want = {}
    for a, b in combinations(sorted(sims), 2):
        h = bin(sims[a] ^ sims[b]).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert got == want


def test_cc_loop_runs_one_job_per_round(spark):
    """Round-3 verdict item #7: the CC loop's convergence check must
    RIDE the round's single materializing action as an Observation —
    never a second blocking count job. With AQE off (AQE legitimately
    splits one action into per-stage jobs), each round is exactly one
    Spark job in the loop's job group."""
    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = set(
            spark.sparkContext.statusTracker().getJobIdsForGroup(Q._CC_JOB_GROUP)
        )
        Q._dup_graph_labels(spark, sf)
        after = set(
            spark.sparkContext.statusTracker().getJobIdsForGroup(Q._CC_JOB_GROUP)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    rounds = Q.LAST_CC_STATS["rounds"]
    assert rounds >= 1
    assert len(after - before) == rounds, (
        f"{len(after - before)} loop jobs for {rounds} rounds — a second "
        "blocking action crept back into the CC round"
    )


def test_band_join_skew_split_fires_on_hot_bucket(spark):
    """North-rule skew handling, audited under PLANTED skew: a hot band
    bucket (just under LSH_BUCKET_CAP semantics: one giant (band, sig)
    group) must trigger AQE's skew-join split on the candidate
    generator's band self-join — the final adaptive plan shows
    SortMergeJoin(skew=true) / AQEShuffleRead skewed, so one hot bucket
    is processed by MANY tasks instead of one straggler. Thresholds are
    lowered to make sandbox-sized bytes qualify; the mechanism is the
    same one that fires at production sizes with defaults."""
    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256b",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128b",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in tuned.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        rows = [(f"doc{i:06d}" + "x" * 60, 0, 999) for i in range(800)]
        for b in range(300):
            for j in range(2):
                rows.append((f"bg{b:04d}_{j}" + "y" * 60, b % 8, 1000 + b))
        banded = spark.createDataFrame(rows, "doc_id string, band int, sig long")
        pairs = Q._bucket_pair_join(banded, "doc_id", "doc_a", "doc_b", cap=None)
        got = pairs.collect()
        # correctness unchanged under the split: hot bucket contributes
        # C(800,2) ordered pairs, each background bucket exactly 1
        assert len(got) == 800 * 799 // 2 + 300
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bpe_loop_runs_one_job_per_round(spark):
    """The BPE trainer's per-round work must ride the argmax collect as
    ONE Spark job (the lazy vocab checkpoint materializes inside it) —
    same driver-round-trip discipline as the CC loop. AQE off so one
    action = one job."""
    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    Q.clear_sweep_cache(spark)  # force a real training run to count
    try:
        before = set(
            spark.sparkContext.statusTracker().getJobIdsForGroup(Q._BPE_JOB_GROUP)
        )
        Q.docs_bpe_merges(spark, sf)
        after = set(
            spark.sparkContext.statusTracker().getJobIdsForGroup(Q._BPE_JOB_GROUP)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    rounds = Q.LAST_BPE_STATS["rounds"]
    assert rounds == Q.N_BPE_MERGES
    assert len(after - before) == rounds, (
        f"{len(after - before)} loop jobs for {rounds} rounds — extra "
        "blocking actions crept into the BPE round"
    )


def test_shared_subgraphs_train_once_per_sweep(spark):
    """The BPE vocab and the LM perplexity table each feed TWO catalog
    entries; a sweep must train each exactly once (round-4 review: the
    double runs cost ~13s of a 56s bench). Pinned two ways: the build
    counter, and the BPE job group gaining zero jobs on the second
    consumer."""
    sf = "/root/testdata/sf0.001"
    Q.clear_sweep_cache(spark)
    tracker = spark.sparkContext.statusTracker()

    b0 = Q.SWEEP_BUILD_COUNTS.get("bpe_train", 0)
    Q.docs_bpe_merges(spark, sf).collect()
    jobs_after_first = set(tracker.getJobIdsForGroup(Q._BPE_JOB_GROUP))
    Q.docs_bpe_subword_counts(spark, sf).collect()
    jobs_after_second = set(tracker.getJobIdsForGroup(Q._BPE_JOB_GROUP))
    assert Q.SWEEP_BUILD_COUNTS["bpe_train"] == b0 + 1
    # a retrain would ADD group jobs; compare by difference, not
    # equality — the status tracker retains a bounded job history
    # (spark.ui.retainedJobs), so in a long-lived session EVICTION can
    # shrink the first snapshot between the two reads
    assert not (jobs_after_second - jobs_after_first), "second entry re-trained BPE"

    l0 = Q.SWEEP_BUILD_COUNTS.get("lm_perplexity", 0)
    ppl_rows = sorted(tuple(r) for r in Q.docs_lm_perplexity(spark, sf).collect())
    Q.docs_quality_lm_filter(spark, sf).collect()
    assert Q.SWEEP_BUILD_COUNTS["lm_perplexity"] == l0 + 1
    # memoized result is stable across consumers
    again = sorted(tuple(r) for r in Q.docs_lm_perplexity(spark, sf).collect())
    assert again == ppl_rows
    assert Q.SWEEP_BUILD_COUNTS["lm_perplexity"] == l0 + 1


def test_cc_loop_converges_round_one_on_dupfree_corpus(spark, tmp_path):
    """Empty dup graph: the observed changed-count aggregates ZERO rows,
    which must read as 0 (coalesce) and break after round 1 — a NULL
    comparing unequal to 0 would silently run all 12 diameter-bound
    rounds."""
    rows = [(i, f"totally unique text number {i} " + "x" * i) for i in range(30)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = Q.docs_dup_clusters(spark, str(tmp_path))
    got = {(r.doc_id, r.cluster_rep) for r in out.collect()}
    assert got == {(i, i) for i in range(30)}  # everyone isolated
    assert Q.LAST_CC_STATS["rounds"] == 1, Q.LAST_CC_STATS
