"""Each turn is extracted once per batch, and the pass that serves
several writes leaves nothing cached behind it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.config import PipelineSettings, Settings
from cdrc_semantic_search_spark.operators import extraction
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
from cdrc_semantic_search_spark.sources.catalog import ParquetTableCatalog
from cdrc_semantic_search_spark.streaming import incremental


@pytest.fixture
def turns_extracted(spark, monkeypatch):
    """An accumulator of the turns the extraction worker body receives.
    The operators bind the body when they build a plan, so the counting
    wrapper patched in here is what ships to the workers."""
    acc = spark.sparkContext.accumulator(0)
    body = extraction.extract_batch

    def counting(batch, *args):
        acc.add(batch.num_rows)
        return body(batch, *args)

    monkeypatch.setattr(extraction, "extract_batch", counting)
    return acc


def _one_bucket() -> Settings:
    return Settings(pipeline=PipelineSettings(num_buckets=1))


def _stream(spark, pipe, tdf, tmp_path) -> None:
    src = str(tmp_path / "src")
    tdf.repartition(2).write.parquet(src)  # ≤ 4 files: one micro-batch
    cat = ParquetTableCatalog(str(tmp_path / "stream_cat"))
    incremental.stream_triples(
        spark, pipe, src, cat, str(tmp_path / "ckpt"), with_graph=True
    )
    assert cat.committed_partitions("node_deltas") == {"0"}


def _bucket(spark, pipe, tdf, tmp_path) -> None:
    cat = ParquetTableCatalog(str(tmp_path / "bucket_cat"))
    assert pipe.run_partitioned(tdf, cat, with_graph=True) == ["0"]


def _materialize(spark, pipe, tdf, tmp_path) -> None:
    pipe.materialize(tdf, ParquetTableCatalog(str(tmp_path / "kg")))


RUNS = {"stream_triples": _stream, "run_partitioned": _bucket, "materialize": _materialize}


@pytest.mark.parametrize("run", sorted(RUNS))
def test_each_turn_is_extracted_once(
    spark, fixture, spark_fixture, tmp_path, turns_extracted, run
):
    """One micro-batch, one bucket or one materialize writes triples and
    the tables built from mentions, yet the extraction body sees each
    input turn once."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, _one_bucket())
    RUNS[run](spark, pipe, tdf, tmp_path)
    assert turns_extracted.value == tdf.count()


@pytest.mark.parametrize("run", sorted(RUNS))
def test_one_pass_leaves_nothing_cached(spark, fixture, spark_fixture, tmp_path, run):
    tdf, _ = spark_fixture
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    RUNS[run](spark, KGPipeline(spark, fixture.entities, _one_bucket()), tdf, tmp_path)
    assert jsc.getPersistentRDDs().size() == before


def test_failed_materialize_leaves_nothing_cached(
    spark, fixture, spark_fixture, tmp_path, monkeypatch
):
    tdf, _ = spark_fixture
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    def boom(_):
        raise RuntimeError("kg_nodes write failed on purpose")

    def failing_nodes(self, mentions):
        return mentions.select(F.udf(boom, "long")("entity_id").alias("n"))

    monkeypatch.setattr(KGPipeline, "kg_nodes", failing_nodes)
    with pytest.raises(Exception, match="kg_nodes write failed on purpose"):
        _materialize(spark, KGPipeline(spark, fixture.entities, Settings()), tdf, tmp_path)
    assert jsc.getPersistentRDDs().size() == before
