"""Column-expression normalization vs the pure-Python oracle."""

import random

from pyspark.sql import functions as F

from basicocr_spark import reference as R
from basicocr_spark.functions import textnorm as TN

SAMPLES = [
    "ＡＢｃ１　中 mixed ｔｅｘｔ",
    "hello, 世界! 123",
    "ab c",
    "a  b",
    ".a",
    "",
    "纯中文字符串",
    "ALLCAPS WITH，full，width，commas",
    "＀edge ～case～",
]


def _mk_random(n=40, seed=7):
    rng = random.Random(seed)
    pool = "abcXYZ019 ，。中文字符ＡＢ　.~ｚ！"
    return ["".join(rng.choice(pool) for _ in range(rng.randint(0, 18))) for _ in range(n)]


def test_uniform_matches_reference(spark):
    data = SAMPLES + _mk_random()
    df = spark.createDataFrame([(s,) for s in data], "s string")
    rows = df.select("s", TN.uniform(F.col("s")).alias("u")).collect()
    for r in rows:
        assert r.u == R.uniform(r.s), repr(r.s)
