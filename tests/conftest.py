import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basicocr_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(parallelism=4, app_name="basicocr_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fx(spark):
    from basicocr_spark.fixtures import build_fixture_dfs

    dfs = build_fixture_dfs(spark, n_docs=40, n_media=30, seed=42)
    for name in ("documents", "media_logits", "dictionary", "stopwords", "boxes", "golden"):
        dfs[name] = dfs[name].cache()
    return dfs


@pytest.fixture(scope="module")
def oracles():
    """`oracle_sql()` built once per test module, not once per case."""
    import __spark_entry__ as E

    return E.oracle_sql()
