"""Spark CTC decode (pure Catalyst expression + the kernel's numpy twin)
vs the pure-Python oracle on the deterministic logits fixture."""

from pyspark.sql import functions as F

from basicocr_spark import reference as R
from basicocr_spark.functions import ctc as C


def test_sql_decode_matches_gold(fx):
    df = fx["media_logits"].withColumn("decoded", C.ctc_greedy_decode(F.col("logits")))
    rows = df.select("media_ref", "gold_text", "decoded").collect()
    assert rows
    for r in rows:
        assert r.decoded == r.gold_text, r.media_ref


def test_numpy_decode_matches_sql(fx):
    """decode_ctc_numpy, the decoder the fused kernel runs, agrees with
    the SQL expression on every fixture ref."""
    rows = (
        fx["media_logits"]
        .select("media_ref", "logits", C.ctc_greedy_decode(F.col("logits")).alias("sql_dec"))
        .collect()
    )
    assert rows
    for r in rows:
        assert C.decode_ctc_numpy(r.logits) == r.sql_dec, r.media_ref


def test_collapse_golden_case(spark):
    # the reference's own golden: [5,5,0,1] -> 'ea' (test_utils.py:53-56)
    df = spark.createDataFrame([([5, 5, 0, 1],)], "t array<int>")
    out = df.select(
        C.indices_to_text(C.ctc_collapse(F.col("t")), R.TEST_ALPHABET).alias("s"),
    ).first()
    assert out.s == "ea"


def test_decode_plan_is_pure_jvm(fx):
    """No Python-eval nodes in the physical plan of the SQL decode path."""
    df = fx["media_logits"].select(C.ctc_greedy_decode(F.col("logits")).alias("d"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
