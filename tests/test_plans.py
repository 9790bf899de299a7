"""Physical-plan assertions: the optimizations we claim must be visible in
the plans Catalyst actually produces (SURVEY §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark, plan_of):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") > "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, plan_of):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_dim_join_is_broadcast(spark, plan_of):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fused_triples_plan_is_map_only(spark, fixture, spark_fixture, plan_of):
    """The triples and mentions plans must contain NO exchange (shuffle) —
    scan → project → one fused mapInArrow operator, nothing else."""
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    for df in (pipe.triples(tdf), pipe.mentions(tdf)):
        plan = plan_of(df)
        assert "MapInArrow" in plan
        assert "MapInPandas" not in plan
        assert "Exchange" not in plan, f"unexpected shuffle in fused plan:\n{plan}"


def test_kg_edges_aggregation_is_partial_then_final(spark, fixture, spark_fixture, plan_of):
    """Edge rollup must show map-side partial aggregation (two HashAggregate
    levels around one Exchange) — shuffle volume is pre-reduced."""
    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.plans.kg_pipeline import KGPipeline

    tdf, _ = spark_fixture
    pipe = KGPipeline(spark, fixture.entities, Settings())
    plan = plan_of(pipe.kg_edges(pipe.triples(tdf)))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_chunk_words_is_jvm_only(spark, plan_of):
    """Catalyst-only chunking: Generate+higher-order funcs, zero Python
    eval nodes (Generate itself doesn't participate in codegen)."""
    from cdrc_semantic_search_spark.operators.chunker import chunk_words

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(chunk_words(d, "doc_id", "text", 16, 4))
    assert "Generate posexplode" in plan
    for py_node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py_node not in plan


def test_topk_exact_query_side_broadcasts(spark, plan_of):
    from cdrc_semantic_search_spark.operators.similarity import topk_cosine_exact

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    plan = plan_of(topk_cosine_exact(q, c, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_decontamination_probe_is_broadcast(spark, plan_of):
    """cross_split_contamination's 100-TB claim: the holdout shingle set
    broadcasts; the train posting table is never sort-merge joined."""
    from cdrc_semantic_search_spark.operators.dedup import cross_split_contamination

    df = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "split", F.when(F.col("doc_id") % 5 == 0, "holdout").otherwise("train")
    )
    out = cross_split_contamination(df, "doc_id", "text", "split", holdout=("holdout",))
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_candidate_exchange_carries_ids_only(spark, plan_of):
    """cosine_pairs_lsh's slim-shuffle claim: no exchange in the candidate
    self-join carries the embedding column — vectors re-join after the
    pair dedup (round-3 fix: previously vec_a/vec_b rode the (band,bucket)
    exchange n_bands times)."""
    import re

    from cdrc_semantic_search_spark.operators.similarity import cosine_pairs_lsh

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = cosine_pairs_lsh(e, "vec_id", "embedding", dim=16, threshold=0.9)
    plan = plan_of(out)
    # every Exchange hashpartitioning on (band, bucket) must not mention a
    # vector column in its output
    for m in re.finditer(r"Exchange hashpartitioning\(band[^\n]*", plan):
        assert "vec_a" not in m.group(0) and "vec_b" not in m.group(0)
    # the dedup exchange is on the bare id pair
    assert re.search(r"Exchange hashpartitioning\(id_a[^\n]*id_b", plan)


def test_bucketed_table_join_skips_exchange(spark, plan_of):
    """Bucketed writes are the repeated-self-join scale lever: two scans of
    a table bucketed+sorted on the join key sort-merge-join with ZERO
    Exchange (co-located by bucket id), while the plain parquet twin pays
    a shuffle per side.  At 100 TB this converts every recurring
    doc_id-keyed join (dedup re-checks, enrich passes, delta merges) from
    a full-table shuffle into a local merge."""
    name = "plans_docs_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    (
        docs.write.mode("overwrite")
        .bucketBy(8, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable(name)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t1 = spark.table(name)
        t2 = spark.table(name).select("doc_id", F.col("n_chars").alias("nc2"))
        bucketed = plan_of(t1.join(t2, "doc_id"))
        assert "Exchange" not in bucketed, bucketed
        assert "SortMergeJoin" in bucketed

        raw2 = docs.select("doc_id", F.col("n_chars").alias("nc2"))
        plain = plan_of(docs.join(raw2, "doc_id"))
        assert "Exchange" in plain  # the shuffle bucketing removes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_q19_disjunction_pushes_single_side_conjuncts(spark, plan_of):
    """The factored single-side conjuncts of the OR-of-AND predicate must
    reach both parquet scans as pushed filters, and the filtered part
    side must broadcast."""
    from cdrc_semantic_search_spark.plans.catalog_queries import REGISTRY

    plan = plan_of(REGISTRY["q19_disjunctive_revenue"].fn(spark, SF))
    assert "In(p_brand" in plan  # part-side brand set pushed to scan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # lineitem side
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q15_max_is_broadcast_not_global_window(spark, plan_of):
    """The scalar MAX must come back as a broadcast join, never a global
    single-partition window sort."""
    from cdrc_semantic_search_spark.plans.catalog_queries import REGISTRY

    plan = plan_of(REGISTRY["q15_top_supplier"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_collective_linking_candidates_broadcast(spark, plan_of):
    """collective_link_mentions must broadcast the distinct-surface
    candidate frame into the mention facts (the facts never shuffle for
    linking) and contain no cartesian product."""
    import pandas as pd

    from cdrc_semantic_search_spark.config import Settings
    from cdrc_semantic_search_spark.operators.linking import (
        build_entity_index,
        collective_link_mentions,
    )

    ents = pd.DataFrame(
        {
            "entity_id": ["E1", "E2"],
            "canonical_name": ["alpha beta", "gamma delta"],
            "aliases": [[], []],
            "entity_type": ["d", "d"],
        }
    )
    settings = Settings()
    bc = spark.sparkContext.broadcast(("t", build_entity_index(ents, settings)))
    mentions = spark.createDataFrame(
        [("c1", 0, 0, "alpha beta"), ("c1", 1, 0, "gamma delta")],
        "conv_id string, turn_idx int, mention_idx int, surface string",
    )
    plan = plan_of(collective_link_mentions(mentions, bc, settings))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_repeated_spans_shuffles_hash_not_span_text(spark, plan_of):
    """The span-dedup aggregate must key its exchange on xxhash64(span)
    (8 bytes), with the span text entering the aggregate only as the
    min() representative — never as the grouping key."""
    from cdrc_semantic_search_spark.operators.dedup import repeated_spans

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(repeated_spans(df, "doc_id", "text"))
    assert "xxhash64(span" in plan
    # the exchange partitions on the hash column, not the span string
    import re as _re

    exch = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert exch and all("span_hash" in ln for ln in exch if "span" in ln)
    assert all(not _re.search(r"hashpartitioning\(span#", ln) for ln in exch)


def test_hard_negatives_filter_precedes_rank_windows(spark, plan_of):
    """The label-mismatch predicate must sit BELOW the two-stage rank
    windows (fused into the broadcast join), so same-label pairs never
    enter a sort."""
    from cdrc_semantic_search_spark.operators.similarity import hard_negatives

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.limit(4).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
    )
    plan = plan_of(hard_negatives(q, c, k=3))
    assert "BroadcastNestedLoopJoin" in plan
    # the join's condition carries the label mismatch — a post-window
    # Filter on labels would appear ABOVE the Window operators instead
    join_pos = plan.index("BroadcastNestedLoopJoin")
    win_pos = plan.index("Window")
    assert "NOT (q_label" in plan[join_pos:] or "(q_label" in plan[join_pos:]
    assert join_pos > win_pos  # executed plans print consumers first


def test_composition_rules_no_cartesian(spark, spark_fixture, plan_of):
    """Rule mining is equi-joins + predicate-keyed aggregates — no
    cartesian product may appear for any input."""
    from cdrc_semantic_search_spark.operators.rules import (
        composition_rules,
        composition_rules_pca,
        inverse_relations,
    )

    e = spark.createDataFrame(
        [("a", "p", "x"), ("x", "q", "c"), ("a", "r", "c")],
        "subj_entity_id string, pred string, obj_entity_id string",
    )
    for fn in (composition_rules, composition_rules_pca, inverse_relations):
        plan = plan_of(fn(e))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_hyperball_state_is_register_rows_not_pairs(spark, plan_of):
    """The HyperBall loop's per-round aggregate keys on (v, j) —
    register rows — never on reached-pair sets; the plan must show the
    (v, j) exchange and no pair-set distinct."""
    from cdrc_semantic_search_spark.operators.graph import (
        hyperball_ball_estimates,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    out = hyperball_ball_estimates(e, k=2)
    plan = plan_of(out)
    # final estimate aggregate keys on v alone
    assert "hashpartitioning(v#" in plan
    out.count()  # executes: checkpointed rounds ran with (v, j) aggregates
