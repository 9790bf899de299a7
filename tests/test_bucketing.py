"""Bucketed-table co-located joins: the shuffle-elimination technique for
repeated big-big joins (SURVEY §4 / task brief: "bucketing for co-located
joins"). Writing both sides bucketed by the join key lets every
subsequent join run shuffle-FREE — at 100 TB this converts the dominant
recurring cost (re-shuffling the fact tables per query) into a one-time
write-side sort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    for name in ("li_bkt", "ord_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    # external tables: explicit paths keep the metastore-managed warehouse
    # dir (a static config) out of the picture
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(root / "li_bkt"))
        .mode("overwrite").format("parquet").saveAsTable("li_bkt")
    )
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(root / "ord_bkt"))
        .mode("overwrite").format("parquet").saveAsTable("ord_bkt")
    )
    yield "li_bkt", "ord_bkt"
    for name in ("li_bkt", "ord_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, plan_of):
    """Joining two tables bucketed on the join key with matching bucket
    counts must not shuffle EITHER side."""
    li_t, ord_t = bucketed_tables
    # force a non-broadcast plan so the join strategy itself is under test
    orig_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(li_t).join(
            spark.table(ord_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it returns the same rows as the shuffling plan
        n_bucketed = joined.count()
        n_plain = (
            spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
            .join(
                spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n_bucketed == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_threshold)


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_tables, plan_of):
    """groupBy on the bucketing key also rides the existing layout."""
    li_t, _ = bucketed_tables
    agg = spark.table(li_t).groupBy("l_orderkey").agg(F.sum("l_quantity"))
    plan = plan_of(agg)
    assert "Exchange" not in plan, f"bucketed groupBy still shuffles:\n{plan}"


def test_bucketed_fanout_pagerank_iteration_skips_edge_exchange(spark, tmp_path_factory, plan_of):
    """The repeated-join pipeline consumer of bucketing: with the
    PageRank fanout written bucketed by src, the per-iteration
    fanout⋈ranks join must NOT exchange the edge side (only the rank
    vector and the dst-keyed contrib agg shuffle), and ranks must equal
    the plain persisted-fanout path bit-for-bit."""
    from cdrc_semantic_search_spark.operators.graph import (
        build_pagerank_fanout,
        pagerank_fixed,
    )

    root = tmp_path_factory.mktemp("pr_bkt")
    edges = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter("l_orderkey < 300")
        .select(
            F.col("l_suppkey").alias("src"),
            (F.lit(1000) + F.col("l_partkey") % 100).alias("dst"),
        )
    )
    spark.sql("DROP TABLE IF EXISTS pr_fanout_bkt")
    (
        build_pagerank_fanout(edges)
        .write.bucketBy(8, "src").sortBy("src")
        .option("path", str(root / "pr_fanout_bkt"))
        .mode("overwrite").format("parquet").saveAsTable("pr_fanout_bkt")
    )
    orig_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fanout = spark.table("pr_fanout_bkt")
        ranks_v = fanout.select(F.col("src").alias("id")).distinct().withColumn(
            "rank", F.lit(0.01)
        )
        one_iter = (
            fanout.join(ranks_v, fanout["src"] == ranks_v["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("w") / F.col("strength")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("contrib"))
        )
        plan = plan_of(one_iter)
        assert "SortMergeJoin" in plan
        # at most the rank-vector exchange + the dst-keyed agg exchange;
        # NONE on the bucketed fanout scan (here the rank vector itself
        # derives from the bucketed layout, so even its exchange vanishes
        # and only the dst agg shuffles)
        assert plan.count("Exchange") <= 2, plan
        assert "SelectedBucketsCount" in plan, plan

        got = {
            r.id: r.rank
            for r in pagerank_fixed(fanout=fanout, n_iter=2).collect()
        }
        want = {
            r.id: r.rank for r in pagerank_fixed(edges, n_iter=2).collect()
        }
        # tolerance, not equality: the two physical plans may sum the
        # double contributions in different orders (repo convention —
        # a plain double SUM differs in the last bits across plans)
        assert set(got) == set(want)
        assert all(abs(got[i] - want[i]) < 1e-12 for i in got)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_threshold)
        spark.sql("DROP TABLE IF EXISTS pr_fanout_bkt")


def test_recheck_bucketed_base_no_exchange(spark, tmp_path_factory, plan_of):
    """Dedup's exact-cosine re-check join over a base stored bucketed by
    id must not exchange the base on EITHER side-join (alias-aware output
    partitioning carries the bucket layout through the id_a/id_b renames);
    only the candidate-pair side shuffles. Scores must equal the plain
    path bit-for-bit (same join order → same float evaluation)."""
    from cdrc_semantic_search_spark.operators.similarity import exact_recheck

    root = tmp_path_factory.mktemp("recheck_bkt")
    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .selectExpr("vec_id AS doc_id", "embedding AS vec")
    )
    spark.sql("DROP TABLE IF EXISTS recheck_base_bkt")
    (
        base.write.bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", str(root / "recheck_base_bkt"))
        .mode("overwrite").format("parquet").saveAsTable("recheck_base_bkt")
    )
    ids = base.select("doc_id")
    # materialize the pair set so the plan under test contains ONLY the
    # re-check join (candidate generation has its own exchanges)
    cand = (
        ids.selectExpr("doc_id AS id_a")
        .join(ids.selectExpr("doc_id + 1 AS id_b"), F.expr("id_a = id_b - 1"))
        .filter("id_a % 3 = 0")
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    orig_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = exact_recheck(
            spark.table("recheck_base_bkt"), cand, "doc_id", "vec"
        )
        plan = plan_of(bucketed)
        assert "SortMergeJoin" in plan
        # bucketed pays only the candidate side: cand by id_a, then the
        # scored rows by id_b. Count DATA exchanges — Spark may inject a
        # runtime bloom-filter subquery whose scalar build uses an
        # Exchange SinglePartition; that is not a base shuffle
        assert plan.count("Exchange hashpartitioning") <= 2, plan
        assert "BroadcastExchange" not in plan, plan
        assert "SelectedBucketsCount" in plan, plan

        got = {(r.id_a, r.id_b): r.score for r in bucketed.collect()}
        want = {
            (r.id_a, r.id_b): r.score
            for r in exact_recheck(base, cand, "doc_id", "vec").collect()
        }
        assert got == want
        assert len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_threshold)
        spark.sql("DROP TABLE IF EXISTS recheck_base_bkt")
