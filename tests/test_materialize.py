from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.config import Settings
from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline
from cdrc_semantic_search_spark.sources.catalog import (
    ParquetTableCatalog,
    footer_rows,
    read_parquet,
)

GRAPH_TABLES = ["triples", "mentions", "kg_edges", "kg_nodes", "surface_clusters"]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_materialize_all_tables(spark, fixture, spark_fixture, tmp_path):
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "kg"))
    counts = pipe.materialize(tdf, cat)
    assert counts["triples"] > 0
    assert counts["mentions"] > counts["triples"]
    assert counts["kg_nodes"] == len(fixture.entities)
    assert 0 < counts["kg_edges"] <= counts["triples"]
    assert counts["surface_clusters"] > 0

    # edge weights sum to triple count
    edges = cat.read_table(spark, "kg_edges")
    assert edges.agg(F.sum("weight")).collect()[0][0] == counts["triples"]

    # every canonical surface is a member of its own cluster
    sc = cat.read_table(spark, "surface_clusters").toPandas()
    surfaces = set(sc["surface"])
    assert set(sc["canonical_surface"]) <= surfaces
    # clusters group same-entity variants: canonical surface maps to the
    # same entity for the vast majority of members (embedding clusters of
    # typo variants)
    canon_entity = dict(zip(sc["surface"], sc["entity_id"]))
    agree = sum(
        1 for s, c in zip(sc["surface"], sc["canonical_surface"])
        if canon_entity.get(c) == canon_entity.get(s)
    )
    assert agree / len(sc) > 0.9


def test_pagerank_over_materialized_kg_edges(spark, fixture, spark_fixture):
    """Graph analytics consume the pipeline's own edge table: the highest-
    PageRank entity must be one of the most-connected entities (hub
    entities accrue rank from their many neighbors)."""
    from cdrc_semantic_search_spark.operators.graph import pagerank_fixed

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    edges = pipe.kg_edges(pipe.triples(tdf))
    pr = pagerank_fixed(
        edges, src="subj_entity_id", dst="obj_entity_id", n_iter=5
    ).toPandas()
    assert len(pr) > 0 and abs(pr["rank"].sum()) <= 1.0 + 1e-9
    top = pr.sort_values(["rank", "id"], ascending=[False, True]).iloc[0]["id"]
    deg = (
        edges.select(F.col("obj_entity_id").alias("id"))
        .groupBy("id").count().toPandas().set_index("id")["count"]
    )
    assert deg.get(top, 0) >= deg.quantile(0.9)  # top-ranked is a hub


def test_surface_clusters_group_typo_variants(spark, fixture, spark_fixture):
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    sc = pipe.surface_clusters(pipe.mentions(tdf)).toPandas()
    # at least some multi-member clusters exist (typo/case variants of the
    # same canonical name cluster together)
    sizes = sc.groupby("canonical_surface").size()
    assert (sizes > 1).any()


def test_merge_edge_deltas_weights_and_spans(spark):
    """merge(kg_edges(A), kg_edges(B)) ≡ kg_edges(A ∪ B): weights add and
    activity spans extend; one-sided edges survive untouched."""
    from datetime import datetime

    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    def ts(d):
        return datetime(2026, 1, d)

    cols = "subj_entity_id string, pred string, obj_entity_id string, ts timestamp"
    a = spark.createDataFrame(
        [("E1", "p", "E2", ts(1)), ("E1", "p", "E2", ts(3)), ("E3", "q", "E4", ts(5))],
        cols,
    )
    b = spark.createDataFrame(
        [("E1", "p", "E2", ts(2)), ("E5", "r", "E6", ts(9))], cols
    )
    pipe_edges = KGPipeline.merge_edge_deltas  # static
    ea, eb = (
        x.groupBy("subj_entity_id", "pred", "obj_entity_id").agg(
            F.count(F.lit(1)).cast("long").alias("weight"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        for x in (a, b)
    )
    merged = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in pipe_edges(ea, eb).collect()
    }
    full = {
        (r.subj_entity_id, r.pred, r.obj_entity_id): (r.weight, r.first_ts, r.last_ts)
        for r in a.unionByName(b)
        .groupBy("subj_entity_id", "pred", "obj_entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("weight"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert merged == full
    assert merged[("E1", "p", "E2")][0] == 3  # 2 + 1
    assert merged[("E3", "q", "E4")] == (1, ts(5), ts(5))  # A-only edge intact


def test_merge_node_deltas_counts_add_and_dim_survives(spark):
    """merge(kg_nodes(A), kg_nodes(B)): mention counts add; dim attributes
    survive from whichever side has the row; zero-count rows don't vanish."""
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    cols = "entity_id string, canonical_name string, entity_type string, n_mentions long"
    a = spark.createDataFrame(
        [("E1", "Leeds", "place", 5), ("E2", "Python", "tool", 0)], cols
    )
    b = spark.createDataFrame(
        [("E1", "Leeds", "place", 2), ("E3", "Footfall", "dataset", 7)], cols
    )
    got = {
        r.entity_id: (r.canonical_name, r.entity_type, r.n_mentions)
        for r in KGPipeline.merge_node_deltas(a, b).collect()
    }
    assert got == {
        "E1": ("Leeds", "place", 7),
        "E2": ("Python", "tool", 0),
        "E3": ("Footfall", "dataset", 7),
    }


def test_footer_metadata_equals_spark_read(spark, fixture, spark_fixture, tmp_path, jobs_of):
    """Every table materialize writes reads back through the footer
    schema exactly as a plain ``spark.read.parquet`` reads it (types,
    nullability, rows), its footer row count is Spark's count, and a
    materialize run files every job it launches under the caller's job
    group."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "kg"))
    counts = {}
    in_group, started = jobs_of(lambda: counts.update(pipe.materialize(tdf, cat)))
    assert in_group and in_group == started
    types = set()
    for name in GRAPH_TABLES:
        path = cat.table_path(name)
        got, want = cat.read_table(spark, name), spark.read.parquet(path)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
        assert counts[name] == footer_rows(path) == want.count()
        types |= {f.dataType.typeName() for f in got.schema.fields}
    assert {"timestamp", "integer", "double", "boolean", "string"} <= types
    # building a read fires no job: the schema comes from the footer
    assert jobs_of(lambda: cat.read_table(spark, "mentions")) == ([], [])


def test_footer_reads_and_counts_of_partitions(spark, tmp_path, jobs_of):
    """Ledger commits count rows from the footers (empty writes too),
    reads of committed partitions fire no job and skip data that has no
    marker, and an overwrite fires exactly the jobs of its write."""
    cat = ParquetTableCatalog(str(tmp_path / "cat"))
    df = spark.range(50).select(
        F.col("id").cast("int").alias("n"),
        (F.col("id") / 3).alias("x"),
        (F.col("id") % 2 == 0).alias("even"),
        F.col("id").cast("string").alias("s"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    rec = cat.overwrite_partition(df, "t", "0")
    assert rec.row_count == 50
    assert cat.overwrite_partition(df.limit(0), "t", "1").row_count == 0
    cat.create_or_replace(df.limit(0), "empty")
    assert footer_rows(cat.table_path("empty")) == 0
    empty = cat.read_table(spark, "empty")
    assert empty.schema == spark.read.parquet(cat.table_path("empty")).schema
    assert empty.columns == df.columns and empty.count() == 0

    plain = spark.read.parquet(cat._partition_path("t", "0"), cat._partition_path("t", "1"))
    got = cat.read_committed(spark, "t")
    assert got.schema == plain.schema
    assert _rows(got) == _rows(plain) == _rows(df)
    assert jobs_of(lambda: cat.read_committed(spark, "t")) == ([], [])
    assert jobs_of(lambda: cat.read_partition(spark, "t", "0")) == ([], [])
    # data that landed without its ledger marker stays invisible
    df.write.parquet(cat._partition_path("t", "9"))
    assert "9" not in cat.committed_partitions("t")
    assert _rows(cat.read_committed(spark, "t")) == _rows(df)

    write_jobs, _ = jobs_of(
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    )
    commit_jobs, started = jobs_of(lambda: cat.overwrite_partition(df, "t", "0"))
    assert commit_jobs == started and len(commit_jobs) == len(write_jobs) > 0


def test_footer_read_falls_back_to_spark_inference(spark, tmp_path, jobs_of):
    """No direct data file (a ``part=``-partitioned directory, whose
    partition column Spark discovers) or a footer without Spark's schema
    (a file pyarrow wrote): the plain read runs, inference job and all."""
    df = spark.range(6).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("part")
    )
    parted = str(tmp_path / "parted")
    df.write.partitionBy("part").parquet(parted)
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(
        pa.table({"a": [1, 2, 3], "b": ["x", None, "z"]}), str(foreign / "f.parquet")
    )
    assert b"org.apache.spark.sql.parquet.row.metadata" not in (
        pq.read_metadata(str(foreign / "f.parquet")).metadata or {}
    )
    for path in (parted, str(foreign)):
        got, want = read_parquet(spark, path), spark.read.parquet(path)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
        in_group, _ = jobs_of(lambda p=path: read_parquet(spark, p))
        assert in_group  # the inference job the footer read avoids
    assert "part" in read_parquet(spark, parted).columns


def test_materialize_write_failure_reaches_caller(
    spark, fixture, spark_fixture, tmp_path, monkeypatch
):
    """One of the concurrent graph writes fails on a catalog that holds a
    previous run: materialize re-raises its error once the other writes
    of the round have finished in their staged copies, nothing is
    committed, and all five tables of the previous run stay readable and
    unchanged."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    cat = ParquetTableCatalog(str(tmp_path / "kg"))
    pipe.materialize(tdf, cat)
    before = {n: _rows(cat.read_table(spark, n)) for n in GRAPH_TABLES}

    def boom(_):
        raise RuntimeError("kg_nodes write failed on purpose")

    def failing_nodes(self, mentions):
        return mentions.select(F.udf(boom, "long")("entity_id").alias("n"))

    monkeypatch.setattr(KGPipeline, "kg_nodes", failing_nodes)
    with pytest.raises(Exception, match="kg_nodes write failed on purpose"):
        pipe.materialize(tdf, cat)
    # the round's other writes ran to the end, in their staged copies
    for name in ("kg_edges", "surface_clusters"):
        assert footer_rows(cat.table_path(name) + ".staging") > 0
    assert not os.path.exists(cat.record_path)
    assert {n: _rows(cat.read_table(spark, n)) for n in GRAPH_TABLES} == before


def test_materialize_crash_after_commit_record_rolls_forward_at_open(
    spark, fixture, spark_fixture, tmp_path, crash_after_commit_record
):
    """A crash between materialize's commit record and its swap leaves
    the record pending: compacted reads raise in the same process, and
    the next catalog open rolls the commit forward to the graph an
    uninterrupted run writes."""
    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    ref = ParquetTableCatalog(str(tmp_path / "ref"))
    pipe.materialize(tdf, ref)
    root = str(tmp_path / "kg")
    cat = ParquetTableCatalog(root)
    with crash_after_commit_record():
        with pytest.raises(RuntimeError, match="crashed after the commit record"):
            pipe.materialize(tdf, cat)
    assert os.path.exists(cat.record_path)
    assert not any(os.path.exists(cat.table_path(n)) for n in GRAPH_TABLES)
    with pytest.raises(RuntimeError, match="commit is pending"):
        KGPipeline.compacted_edges(spark, cat)

    reopened = ParquetTableCatalog(root)
    assert not os.path.exists(reopened.record_path)
    assert not [e for e in os.listdir(root) if e.endswith(".staging")]
    for name in GRAPH_TABLES:
        assert _rows(reopened.read_table(spark, name)) == _rows(ref.read_table(spark, name))
