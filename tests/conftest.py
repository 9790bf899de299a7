from __future__ import annotations

import contextlib
import io

import pytest

from cdrc_semantic_search_spark import fixtures
from cdrc_semantic_search_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cdrc-kg-tests", parallelism=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture():
    # small but non-trivial: hot conversations + hot entities included
    return fixtures.generate(seed=42, n_conversations=60, n_entities=120)


@pytest.fixture(scope="session")
def spark_fixture(spark, fixture):
    tdf, edf = fixtures.to_spark(spark, fixture)
    return tdf, edf


@pytest.fixture(scope="session")
def plan_of():
    """Physical plan text of a DataFrame, read through the public
    ``explain()``. A frame that has been collected shows its final
    adaptive plan."""

    def _plan(df) -> str:
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            df.explain()
        return out.getvalue()

    return _plan
