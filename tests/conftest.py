from __future__ import annotations

import contextlib
import io
import itertools
import os
import time

import pytest

from cdrc_semantic_search_spark import fixtures
from cdrc_semantic_search_spark.session import get_spark
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog


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


@pytest.fixture(scope="session")
def jobs_of(spark):
    """Run a call under a fresh Spark job group → (ids of the jobs filed
    under that group, ids of every job started meanwhile). A fence job
    runs before and after the call; the status listener handles events
    in order, so once a fence shows, every earlier job shows too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    names = itertools.count()

    def in_group(fn) -> str:
        group = f"jobs-of-{next(names)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return group

    def fence() -> list[int]:
        group = in_group(lambda: spark.range(1).collect())
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(group):
            assert time.monotonic() < deadline, "fence job never showed"
            time.sleep(0.05)
        return tracker.getJobIdsForGroup(group)

    def run(fn) -> tuple[list[int], list[int]]:
        first = max(fence()) + 1
        group = in_group(fn)
        last = min(fence())
        return sorted(tracker.getJobIdsForGroup(group)), list(range(first, last))

    return run


@pytest.fixture
def crash_after_commit_record(monkeypatch):
    """Inside ``with crash_after_commit_record():`` a catalog commit stops
    right after its roll-forward record is written, as if the process
    died there: the record stays pending and no table is swapped. The
    commit raises ``RuntimeError("crashed after the commit record")``."""

    def crash(catalog):
        if os.path.exists(catalog.record_path):
            raise RuntimeError("crashed after the commit record")

    @contextlib.contextmanager
    def crashing():
        with monkeypatch.context() as m:
            m.setattr(ParquetTableCatalog, "roll_forward", crash)
            yield

    return crashing
